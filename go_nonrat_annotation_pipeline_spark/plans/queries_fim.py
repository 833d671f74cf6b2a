"""FIM span-transform queries (operators/fim.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import fim as FM
from ..sources.testdata import load_table
from .registry import register

_CTES = FM.sql_fim_ctes("documents")


@register(
    "q_fim_spans",
    "    WITH " + _CTES + """
    SELECT doc_id, fim_applied, len_prefix, len_middle, len_suffix,
           SUBSTRING(middle, 1, 16) AS middle_head
    FROM fim_out
    """,
    doc="fill-in-the-middle span transform (Bavarian et al. 2022): "
    "deterministic md5 apply-gate + two character-level cut points per "
    "doc; per-doc span lengths and the middle's head — pure map stage, "
    "no shuffle/UDF (operators/fim.fim_transform)",
)
def q_fim_spans(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return FM.fim_transform(docs).select(
        "doc_id",
        "fim_applied",
        "len_prefix",
        "len_middle",
        "len_suffix",
        F.substring("middle", 1, 16).alias("middle_head"),
    )


@register(
    "q_fim_report",
    "    WITH " + _CTES + """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN fim_applied THEN 1 ELSE 0 END) AS BIGINT)
             AS n_applied,
           CAST(SUM(len_prefix) AS BIGINT) AS chars_prefix,
           CAST(SUM(len_middle) AS BIGINT) AS chars_middle,
           CAST(SUM(len_suffix) AS BIGINT) AS chars_suffix,
           CAST(SUM(CASE WHEN fim_applied THEN len_middle ELSE 0 END)
                * 1000000
                // GREATEST(SUM(CASE WHEN fim_applied
                                     THEN len_prefix + len_middle + len_suffix
                                     ELSE 0 END), 1) AS BIGINT)
             AS middle_frac_ppm
    FROM fim_out
    """,
    doc="FIM corpus report: apply rate, character mass per section, and "
    "the transformed docs' middle fraction (fixed-point ppm) — the "
    "knobs-check before a FIM training run; expected middle fraction "
    "of a uniform double cut is 1/3",
)
def q_fim_report(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    t = FM.fim_transform(docs)
    return t.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("fim_applied"), 1).otherwise(0))
        .cast("long")
        .alias("n_applied"),
        F.sum("len_prefix").cast("long").alias("chars_prefix"),
        F.sum("len_middle").cast("long").alias("chars_middle"),
        F.sum("len_suffix").cast("long").alias("chars_suffix"),
        F.expr(
            "CAST(SUM(CASE WHEN fim_applied THEN len_middle ELSE 0 END)"
            " * 1000000 DIV GREATEST(SUM(CASE WHEN fim_applied THEN"
            " len_prefix + len_middle + len_suffix ELSE 0 END), 1)"
            " AS BIGINT)"
        ).alias("middle_frac_ppm"),
    )
