"""Distributed BPE merge-training query (operators/bpe.py).

Oracle: the merge steps unroll as chained CTE blocks. Each step
computes pair counts over the current symbol table, picks the argmax
pair (count desc, l asc, r asc — the 1-row tp{i} CTE), and rewrites
greedy occurrences with the same run-parity window arithmetic the
Spark operator uses (match flag → islands via pos - running-match-count
→ take = even offset within run → drop right halves). The final
projection unions the chosen (step, l, r, pair_cnt) rows — the trained
merge table itself is the attested artifact.
"""

from __future__ import annotations

from ..operators import bpe as B
from ..sources.testdata import load_table
from .registry import register

_N_MERGES = 3


def _step(i: int) -> str:
    return f"""
    , px{i} AS (
      SELECT word, cnt,
             UNNEST(GENERATE_SERIES(1, LEN(syms))) AS pos,
             UNNEST(syms) AS sym
      FROM st{i - 1}
    ), pl{i} AS (
      SELECT word, cnt, pos, sym,
             LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM px{i}
    ), tp{i} AS (
      SELECT sym AS l, nxt AS r, SUM(cnt) AS pair_cnt
      FROM pl{i} WHERE nxt IS NOT NULL
      GROUP BY sym, nxt
      ORDER BY pair_cnt DESC, l, r LIMIT 1
    ), mm{i} AS (
      SELECT p.word, p.cnt, p.pos, p.sym,
             (p.sym = t.l AND p.nxt = t.r) AS m,
             t.l AS tl, t.r AS tr
      FROM pl{i} p CROSS JOIN tp{i} t
    ), mr{i} AS (
      SELECT *, SUM(CASE WHEN m THEN 1 ELSE 0 END) OVER
                (PARTITION BY word ORDER BY pos) AS mrn
      FROM mm{i}
    ), rs{i} AS (
      SELECT *, MIN(CASE WHEN m THEN pos END) OVER
                (PARTITION BY word, run) AS run_start
      FROM (SELECT *, CASE WHEN m THEN pos - mrn END AS run FROM mr{i})
    ), pv{i} AS (
      SELECT *, COALESCE(LAG(take) OVER (PARTITION BY word ORDER BY pos),
                         FALSE) AS prev_take
      FROM (SELECT *, (m AND (pos - run_start) % 2 = 0) AS take FROM rs{i})
    ), st{i} AS (
      SELECT word, cnt, LIST(osym ORDER BY pos) AS syms FROM (
        SELECT word, cnt, pos,
               CASE WHEN take THEN tl || tr
                    WHEN prev_take THEN NULL
                    ELSE sym END AS osym
        FROM pv{i})
      WHERE osym IS NOT NULL
      GROUP BY word, cnt
    )"""


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
    {' UNION ALL '.join(
        f"SELECT {i} AS step, l, r, CAST(pair_cnt AS BIGINT) AS pair_cnt"
        f" FROM tp{i}"
        for i in range(1, _N_MERGES + 1)
    )}
    """
)


@register(
    "q_bpe_merges",
    _ORACLE,
    doc="distributed BPE merge training: ONE corpus-sized word-frequency "
    "aggregate, then per-step pair counting + greedy run-parity rewrite "
    "on the dictionary-sized symbol table (operators/bpe.bpe_train) — "
    "the trained merge table is the attested output",
)
def q_bpe_merges(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    merges = B.bpe_train(docs, n_merges=_N_MERGES)
    return spark.createDataFrame(
        merges, "step int, l string, r string, pair_cnt long"
    )


_TOKENIZE_ORACLE = (
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
    SELECT token, CAST(SUM(cnt) AS BIGINT) AS n FROM (
      SELECT cnt, UNNEST(syms) AS token FROM st{_N_MERGES})
    GROUP BY token
    """
)


@register(
    "q_bpe_token_freqs",
    _TOKENIZE_ORACLE,
    doc="BPE tokenize-the-corpus: token frequencies after applying the "
    "trained merges — the word-keyed symbol table joins back to corpus "
    "counts, so tokenizing 100 TB is dictionary-sized work plus the "
    "word-frequency aggregate already paid (operators/bpe.apply_merges)",
)
def q_bpe_token_freqs(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    wf = B.word_freqs(docs).localCheckpoint()
    sym = B.init_symbols(wf).localCheckpoint()
    merges = []
    cur = sym
    for step in range(1, _N_MERGES + 1):
        l, r, c = B.top_pair(cur)
        merges.append((step, l, r, c))
        cur = B.merge_pair(cur, l, r).localCheckpoint()
    return (
        cur.select("cnt", F.explode("syms").alias("token"))
        .groupBy("token")
        .agg(F.sum("cnt").alias("n"))
    )
