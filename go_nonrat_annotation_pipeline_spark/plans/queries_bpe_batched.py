"""Batched BPE merge-training query (operators/bpe.bpe_train_batched).

Classical BPE (q_bpe_merges) pays one driver round-trip per merge —
fine at probe scale, latency-bound at a production vocab (n_merges ≈
32k ⇒ 32k sequential dictionary-sized jobs; the bound is documented on
bpe_train). The batched form amortizes: each ROUND ranks pair counts
once and merges every top-M pair that is symbol-disjoint from ALL
higher-ranked pairs in one rewrite pass, cutting round-trips by the
realized batch factor while the rank-1 pair (classical BPE's choice)
is always merged.

Oracle: per round, the pair-count CTE ranks top-M (rk), the selection
is a NOT EXISTS self-join ("no higher-ranked pair shares a symbol" —
the non-recursive rule select_rank_disjoint implements), and the
rewrite is the same run-parity window arithmetic as q_bpe_merges with
the 1-row CROSS JOIN generalized to a LEFT JOIN against the selected
pair set (symbol-disjointness ⇒ at most one pair matches a position).
"""

from __future__ import annotations

from ..operators import bpe as B
from ..sources.testdata import load_table
from .registry import register

_N_ROUNDS = 2
_TOP_M = 8


def _round(i: int) -> str:
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
    ), rk{i} AS (
      SELECT * FROM (
        SELECT sym AS l, nxt AS r, SUM(cnt) AS pair_cnt,
               ROW_NUMBER() OVER
                 (ORDER BY SUM(cnt) DESC, sym, nxt) AS rk
        FROM pl{i} WHERE nxt IS NOT NULL
        GROUP BY sym, nxt)
      WHERE rk <= {_TOP_M}
    ), sel{i} AS (
      SELECT * FROM rk{i} a WHERE NOT EXISTS (
        SELECT 1 FROM rk{i} b
        WHERE b.rk < a.rk
          AND (b.l = a.l OR b.l = a.r OR b.r = a.l OR b.r = a.r))
    ), mm{i} AS (
      SELECT p.word, p.cnt, p.pos, p.sym,
             (t.l IS NOT NULL) AS m, t.l || t.r AS msym
      FROM pl{i} p LEFT JOIN sel{i} t
        ON p.sym = t.l AND p.nxt = t.r
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
               CASE WHEN take THEN msym
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
    + "".join(_round(i) for i in range(1, _N_ROUNDS + 1))
    + f"""
    {' UNION ALL '.join(
        f"SELECT CAST({i} AS INT) AS round, l, r,"
        f" CAST(pair_cnt AS BIGINT) AS pair_cnt FROM sel{i}"
        for i in range(1, _N_ROUNDS + 1)
    )}
    """
)


@register(
    "q_bpe_merges_batched",
    _ORACLE,
    doc="batched BPE merge training: per round ONE ranking + ONE "
    "rewrite merges the rank-disjoint subset of the top-8 pairs "
    "(operators/bpe.bpe_train_batched) — amortizes the one-job-per-"
    "merge driver-loop bound of classical BPE at vocab scale",
)
def q_bpe_merges_batched(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    merges = B.bpe_train_batched(
        docs, n_rounds=_N_ROUNDS, top_m=_TOP_M
    )
    return spark.createDataFrame(
        merges, "round int, l string, r string, pair_cnt long"
    )
