"""Training-split E2E: benchmark decontamination → leakage-safe
cluster-keyed splitting → per-(split, source) corpus funnel, as ONE
query with a chained-CTE oracle.

The last governance gate before handing data to a trainer: drop every
doc sharing an 8-gram with the benchmark, split what remains by the
dedup-cluster key (duplicate families never straddle train/eval), and
report docs + whitespace-token mass per (split, source). Composes the
two round-9 operator families through their own parametrized CTE
builders, so the hash match checks the COMPOSITION."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import decontam as DC
from ..operators import splitting as SP
from ..sources.testdata import load_table
from .registry import register

_N = 8
_BENCH = "doc_id % 29 = 0"
_CORPUS = "doc_id % 29 != 0"
_SALT = "split0"
_KEY_SQL = "SUBSTR(text, 1, 40)"

_ORACLE = (
    "    WITH "
    + DC.sql_decontam_ctes(
        f"(SELECT doc_id, text FROM documents WHERE {_CORPUS})",
        f"(SELECT doc_id, text FROM documents WHERE {_BENCH})",
        _N,
    )
    + f""", ts_clean AS (
      SELECT d.doc_id, d.source, d.text
      FROM documents d JOIN dc_verdicts v USING (doc_id)
      WHERE NOT v.contaminated
    ), ts_split AS (
      SELECT doc_id, source,
             {SP.sql_split_of(_KEY_SQL, _SALT)} AS split,
             LEN(STRING_SPLIT(COALESCE(text, ''), ' ')) AS n_tokens
      FROM ts_clean
    )
    SELECT split, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
    FROM ts_split GROUP BY split, source
    """
)


@register(
    "corpus_trainsplit_e2e",
    _ORACLE,
    doc="training-split E2E: benchmark decontamination (broadcast "
    "8-gram gate) → leakage-safe cluster-keyed train/val/test split → "
    "per-(split, source) docs + whitespace-token mass — the governance "
    "funnel a trainer consumes, composed from the decontam and "
    "splitting operator families' own CTE builders",
)
def corpus_trainsplit_e2e(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    corpus, bench = docs.where(_CORPUS), docs.where(_BENCH)
    clean = DC.decontaminate(corpus, bench, n=_N)
    assigned = SP.assign_splits(clean, F.substring("text", 1, 40), _SALT)
    return (
        assigned.withColumn(
            "n_tokens",
            F.size(F.split(F.coalesce(F.col("text"), F.lit("")), " ")),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
