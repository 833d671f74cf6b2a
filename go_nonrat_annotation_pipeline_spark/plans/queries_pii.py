"""PII scrub queries (operators/pii.py).

The synthetic `documents.text` is a clean word stream, so both engines
first LACE deterministic PII into it (same expression on both sides:
email/ip/ssn/phone fragments derived from doc_id and source — derived
from the driver's input tables, not synthesized data) and then run the
scrub. That exercises real match/redact behavior instead of counting
zeros. Patterns live in operators/pii.DEFAULT_PATTERNS and restrict
themselves to the Java-regex ∩ RE2 syntax subset so Spark and the
DuckDB oracle match identically.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import pii as P
from ..sources.testdata import load_table
from .registry import register

# DuckDB side of the lacing (identical derivation to _laced below)
_SQL_LACED = """
      text
      || CASE WHEN doc_id % 3 = 0
              THEN ' mail u' || CAST(doc_id AS VARCHAR) || '@' || source || '.org'
              ELSE '' END
      || CASE WHEN doc_id % 4 = 1
              THEN ' host 10.' || CAST(doc_id % 200 AS VARCHAR)
                   || '.0.' || CAST(doc_id % 250 AS VARCHAR)
              ELSE '' END
      || CASE WHEN doc_id % 5 = 2
              THEN ' ssn 123-45-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
      || CASE WHEN doc_id % 7 = 3
              THEN ' call 555-' || LPAD(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                   || '-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              ELSE '' END
"""


def _laced(spark, sf_dir):
    """documents + a `laced` text column with deterministic PII mixed in."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id")
    s = lambda c: c.cast("string")  # noqa: E731
    frag = lambda cond, *parts: F.when(cond, F.concat(*parts)).otherwise(  # noqa: E731
        F.lit("")
    )
    return docs.withColumn(
        "laced",
        F.concat(
            F.col("text"),
            frag(d % 3 == 0, F.lit(" mail u"), s(d), F.lit("@"),
                 F.col("source"), F.lit(".org")),
            frag(d % 4 == 1, F.lit(" host 10."), s(d % 200), F.lit(".0."),
                 s(d % 250)),
            frag(d % 5 == 2, F.lit(" ssn 123-45-"),
                 F.lpad(s(d % 10000), 4, "0")),
            frag(d % 7 == 3, F.lit(" call 555-"), F.lpad(s(d % 1000), 3, "0"),
                 F.lit("-"), F.lpad(s(d % 10000), 4, "0")),
        ),
    )


@register(
    "q_pii_redact",
    f"""
    WITH laced AS (
      SELECT doc_id, source, ({_SQL_LACED}) AS laced FROM documents
    )
    SELECT doc_id,
           {P.sql_pii_counts('laced')},
           {P.sql_pii_redact('laced')} AS redacted
    FROM laced
    """,
    doc="PII scrub: per-doc match counts per class (email/ip/ssn/phone) "
    "and placeholder-redacted text — pure map-side regexp_count/"
    "regexp_replace, fuses into the scan stage (operators/pii.pii_scrub)",
)
def q_pii_redact(spark, sf_dir):
    laced = _laced(spark, sf_dir)
    return P.pii_scrub(laced, text_col="laced").select(
        "doc_id", "n_email", "n_ip", "n_ssn", "n_phone", "redacted"
    )


@register(
    "q_pii_report",
    f"""
    WITH laced AS (
      SELECT doc_id, source, ({_SQL_LACED}) AS laced FROM documents
    ), scrubbed AS (
      SELECT doc_id, source, {P.sql_pii_counts('laced')} FROM laced
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_email) AS BIGINT) AS emails,
           CAST(SUM(n_ip) AS BIGINT) AS ips,
           CAST(SUM(n_ssn) AS BIGINT) AS ssns,
           CAST(SUM(n_phone) AS BIGINT) AS phones,
           CAST(SUM(CASE WHEN n_email + n_ip + n_ssn + n_phone > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS docs_flagged
    FROM scrubbed
    GROUP BY source
    """,
    doc="PII audit report: per-source totals per class and flagged-doc "
    "count — one partial-aggregated groupBy over the map-side scrub "
    "(operators/pii.pii_scrub + pii_flag)",
)
def q_pii_report(spark, sf_dir):
    laced = _laced(spark, sf_dir)
    scrubbed = P.pii_scrub(laced, text_col="laced")
    return scrubbed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_email").alias("emails"),
        F.sum("n_ip").alias("ips"),
        F.sum("n_ssn").alias("ssns"),
        F.sum("n_phone").alias("phones"),
        F.sum(P.pii_flag()).alias("docs_flagged"),
    )
