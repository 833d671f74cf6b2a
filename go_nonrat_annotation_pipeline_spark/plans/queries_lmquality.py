"""LM-quality / corpus-monitoring queries (operators/lmquality.py).

Oracles share the Spark side's exactness discipline: the per-bigram
log term is a single LN over a ratio of exact integers (bit-identical
cross-engine), the OOV report is all-integer, and the KL report's
per-source arithmetic has no cross-row float summation at all.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import lmquality as LM
from ..sources.testdata import load_table
from .registry import register

_BG = (
    "LIST_TRANSFORM(GENERATE_SERIES(1, LENGTH(text) - 1),"
    " i -> SUBSTRING(text, i, 2))"
)
# head/middle/tail cut points on the rounded cross-entropy (nats) —
# sited at the sf0.01 held-out split's quartiles (1.687/1.702/1.719)
# so all three buckets populate. Cross-engine safety does not depend
# on the values: both engines bucket the SAME rounded ce.
_HEAD_BELOW = 1.695
_TAIL_FROM = 1.715


@register(
    "q_lm_perplexity_bucket",
    f"""
    WITH train_bg AS (
      SELECT UNNEST({_BG}) AS bg FROM documents WHERE doc_id % 5 <> 0
    ), bgm AS (
      SELECT bg, CAST(COUNT(*) AS BIGINT) AS cnt2 FROM train_bg GROUP BY 1
    ), c1m AS (
      SELECT SUBSTRING(bg, 1, 1) AS c1, CAST(SUM(cnt2) AS BIGINT) AS cnt1
      FROM bgm GROUP BY 1
    ), v AS (
      SELECT CAST(COUNT(DISTINCT SUBSTRING(bg, 2, 1)) AS BIGINT) AS v
      FROM bgm
    ), doc_bg AS (
      SELECT doc_id AS _id, bg, CAST(COUNT(*) AS BIGINT) AS c FROM (
        SELECT doc_id, UNNEST({_BG}) AS bg
        FROM documents WHERE doc_id % 5 = 0)
      GROUP BY 1, 2
    ), scored AS (
      SELECT d._id,
             CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
             ROUND(SUM(d.c * LN(
                     (COALESCE(c1m.cnt1, 0) + (SELECT v FROM v))
                     / (COALESCE(bgm.cnt2, 0) + 1.0)))
                   / SUM(d.c), 6) AS ce
      FROM doc_bg d
      LEFT JOIN bgm ON d.bg = bgm.bg
      LEFT JOIN c1m ON SUBSTRING(d.bg, 1, 1) = c1m.c1
      GROUP BY d._id
    )
    SELECT _id AS doc_id, n_bigrams, ce,
           CASE WHEN ce < {_HEAD_BELOW} THEN 'head'
                WHEN ce < {_TAIL_FROM} THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM scored
    """,
    doc="CCNet-style LM quality filter: add-one-smoothed char-bigram "
    "LM trained on the doc_id%5<>0 split scores the held-out split by "
    "average cross-entropy, bucketed head/middle/tail at fixed "
    "thresholds — model is alphabet²-bounded (broadcast); the only "
    "corpus-sized shuffle is the per-doc aggregate "
    "(operators/lmquality.score_cross_entropy)",
)
def q_lm_perplexity_bucket(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 5 != 0)
    test = docs.where(F.col("doc_id") % 5 == 0)
    lm = LM.train_bigram_lm(train)
    return LM.score_cross_entropy(test, lm, _HEAD_BELOW, _TAIL_FROM)


@register(
    "q_oov_rate",
    """
    WITH vocab AS (
      SELECT DISTINCT UNNEST(STRING_SPLIT(text, ' ')) AS term
      FROM documents WHERE doc_id % 5 <> 0
    ), toks AS (
      SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS term
      FROM documents WHERE doc_id % 5 = 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(FLOOR(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                      * 1000 / COUNT(*)) AS INT) AS oov_permille
    FROM toks t LEFT JOIN vocab v ON t.term = v.term
    GROUP BY source
    """,
    doc="tokenizer/vocab coverage report: per-source OOV rate of the "
    "held-out split against the train-split token vocabulary — "
    "all-integer, unbounded-dictionary shuffle join (tf-idf skeleton; "
    "operators/lmquality.oov_stats)",
)
def q_oov_rate(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return LM.oov_stats(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0),
    )


@register(
    "q_mixture_drift_kl",
    """
    WITH ref AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS ref_n
      FROM documents WHERE doc_id % 2 = 0 GROUP BY 1
    ), cur AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS cur_n
      FROM documents WHERE doc_id % 2 = 1 GROUP BY 1
    ), both_s AS (
      SELECT COALESCE(r.source, c.source) AS source,
             COALESCE(ref_n, 0) AS ref_n, COALESCE(cur_n, 0) AS cur_n
      FROM ref r FULL OUTER JOIN cur c ON r.source = c.source
    ), tot AS (
      SELECT CAST(SUM(ref_n) AS BIGINT) AS ref_total,
             CAST(SUM(cur_n) AS BIGINT) AS cur_total,
             CAST(COUNT(*) AS BIGINT) AS s
      FROM both_s
    )
    SELECT source, ref_n, cur_n,
           ROUND(((ref_n + 1) / (ref_total + s))
                 * LN(((ref_n + 1) / (ref_total + s))
                      / ((cur_n + 1) / (cur_total + s))), 6) AS kl_contrib
    FROM both_s CROSS JOIN tot
    """,
    doc="corpus mixture-drift monitor: per-source add-one-smoothed "
    "KL(ref‖cur) contributions between the doc_id-parity snapshots — "
    "two bounded aggregates + a source-dimension outer join, no "
    "cross-row float summation (operators/lmquality.mixture_drift_kl)",
)
def q_mixture_drift_kl(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return LM.mixture_drift_kl(
        docs.where(F.col("doc_id") % 2 == 0),
        docs.where(F.col("doc_id") % 2 == 1),
    )
