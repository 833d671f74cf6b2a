"""Tokenizer-fertility evaluation.

Fertility (characters per token under a trained tokenizer, per corpus
slice) is the standard tokenizer-fit metric (BLOOM, Scao et al. 2022
§3.1.3: high fertility on a language/domain means the tokenizer
fragments it). Reuses the attested BPE machinery: the WORD-keyed
symbol table after the trained merges gives tokens-per-word once, and
per-source fertility is then one dictionary-sized join — tokenizing
100 TB never touches the corpus again beyond the per-source
word-frequency aggregate.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import bpe as B
from ..sources.testdata import load_table
from .registry import register
from .queries_bpe import _N_MERGES, _step

_ORACLE = (
    """
    WITH wf AS (
      SELECT word, COUNT(*) AS cnt FROM (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents)
      WHERE word <> ''
      GROUP BY word
    ), st0 AS (
      SELECT word, cnt,
             LIST_CONCAT(STRING_SPLIT(word, ''), ['</w>']) AS syms
      FROM wf
    )"""
    + "".join(_step(i) for i in range(1, _N_MERGES + 1))
    + f"""
    , ft_src AS (
      SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS word
        FROM documents)
      WHERE word <> ''
      GROUP BY source, word
    )
    SELECT s.source,
           CAST(SUM(s.cnt * LENGTH(s.word)) AS BIGINT) AS n_chars,
           CAST(SUM(s.cnt * LEN(t.syms)) AS BIGINT) AS n_tokens,
           CAST(SUM(s.cnt * LENGTH(s.word)) * 1000000
                // SUM(s.cnt * LEN(t.syms)) AS BIGINT)
             AS chars_per_token_ppm
    FROM ft_src s JOIN st{_N_MERGES} t USING (word)
    GROUP BY s.source
    """
)


@register(
    "q_tokenizer_fertility",
    _ORACLE,
    doc="tokenizer fertility per source (chars per BPE token, fixed-"
    "point ppm): tokens-per-word from the trained symbol table joined "
    "to per-source word counts — dictionary-sized work after the "
    "word-frequency aggregate; low fertility = the tokenizer fits the "
    "slice (operators/bpe.apply via the word-keyed symbol table)",
)
def q_tokenizer_fertility(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    wf = B.word_freqs(docs).localCheckpoint()
    cur = B.init_symbols(wf).localCheckpoint()
    for _ in range(_N_MERGES):
        l, r, _c = B.top_pair(cur)
        cur = B.merge_pair(cur, l, r).localCheckpoint()
    tok = cur.select("word", F.size("syms").alias("n_tok"))
    src = (
        docs.select(
            "source", F.explode(F.split("text", " ")).alias("word")
        )
        .where("word <> ''")
        .groupBy("source", "word")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    return (
        src.join(tok, "word")
        .groupBy("source")
        .agg(
            F.sum(F.col("cnt") * F.length("word"))
            .cast("long")
            .alias("n_chars"),
            F.sum(F.col("cnt") * F.col("n_tok"))
            .cast("long")
            .alias("n_tokens"),
            F.expr(
                "CAST(SUM(cnt * LENGTH(word)) * 1000000 DIV "
                "SUM(cnt * n_tok) AS BIGINT)"
            ).alias("chars_per_token_ppm"),
        )
    )
