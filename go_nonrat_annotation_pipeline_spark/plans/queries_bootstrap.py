"""Distributed Poisson bootstrap weights.

Error bars on corpus statistics without resampling the corpus: the
Poisson bootstrap (Chamandy et al., Google 2012) replaces "draw N rows
with replacement" — impossible to coordinate across a cluster — with an
independent Poisson(1) weight per row per replicate, computed map-side.
Here the weight is DETERMINISTIC: the repo's md5 gate maps each
(row, replicate) to a uniform ppm value, and fixed integer CDF cutoffs
(⌊10⁶·P(X≤k)⌋ for Poisson(1): 367879, 735758, 919698, 981011) invert
it to a weight in {0,1,2,3,4+→4} — replayable across engines and runs,
no RNG state, exactly mirrored in SQL.

The registered output is per-replicate weighted corpus statistics: the
spread across replicates IS the bootstrap standard error of the mean
token count.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.sketches import hash60, sql_hash60
from ..sources.testdata import load_table
from .registry import register

_R = 5                  # replicates
_SALT = "boot|"
# ⌊1e6 · P(Poisson(1) ≤ k)⌋ for k = 0..3; ≥4 is the clamped tail
_CUTS = (367879, 735758, 919698, 981011)

_TOK = (
    "CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x <> ''))"
    " AS BIGINT)"
)


def _sql_weight(u: str) -> str:
    return (
        f"(CASE WHEN {u} < {_CUTS[0]} THEN 0 "
        f"WHEN {u} < {_CUTS[1]} THEN 1 "
        f"WHEN {u} < {_CUTS[2]} THEN 2 "
        f"WHEN {u} < {_CUTS[3]} THEN 3 ELSE 4 END)"
    )


@register(
    "q_bootstrap_stats",
    f"""
    WITH reps AS (
      SELECT d.doc_id, {_TOK} AS tok, t.rep,
             {sql_hash60(
                 f"'{_SALT}' || CAST(d.doc_id AS VARCHAR) || '|' || "
                 "CAST(t.rep AS VARCHAR)")} % 1000000 AS u
      FROM documents d, UNNEST(GENERATE_SERIES(1, {_R})) AS t(rep)
    ), weighted AS (
      SELECT rep, tok, {_sql_weight('u')} AS w FROM reps
    )
    SELECT CAST(rep AS BIGINT) AS rep,
           CAST(SUM(w) AS BIGINT) AS n_eff,
           CAST(SUM(w * tok) AS BIGINT) AS sum_tok,
           CAST(SUM(CASE WHEN w = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dropped
    FROM weighted
    GROUP BY rep
    """,
    doc="Poisson bootstrap (Chamandy et al.): deterministic md5 → "
    "Poisson(1) weight per (row, replicate) via fixed integer CDF "
    "cutoffs — map-side, coordination-free resampling; per-replicate "
    "weighted totals give bootstrap error bars on corpus statistics",
)
def q_bootstrap_stats(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    tok = F.size(
        F.filter(F.split(F.col("text"), " "), lambda x: x != "")
    ).cast("long")
    reps = spark.range(1, _R + 1).select(F.col("id").alias("rep"))
    u = (
        hash60(
            F.concat(
                F.lit(_SALT),
                F.col("doc_id").cast("string"),
                F.lit("|"),
                F.col("rep").cast("string"),
            )
        )
        % 1_000_000
    )
    w = (
        F.when(u < _CUTS[0], 0)
        .when(u < _CUTS[1], 1)
        .when(u < _CUTS[2], 2)
        .when(u < _CUTS[3], 3)
        .otherwise(4)
    )
    weighted = (
        docs.select("doc_id", tok.alias("tok"))
        .crossJoin(F.broadcast(reps))
        .select("rep", "tok", w.alias("w"))
    )
    return weighted.groupBy("rep").agg(
        F.sum("w").cast("long").alias("n_eff"),
        F.sum(F.col("w") * F.col("tok")).cast("long").alias("sum_tok"),
        F.sum(F.when(F.col("w") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
    )
