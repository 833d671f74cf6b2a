"""k-core decomposition by iterative degree peeling.

The k-core of a graph is the maximal subgraph where every vertex has
degree >= k — the standard "dense backbone" extraction (Seidman 1983,
"Network structure and minimum degree"). Peeling computes it: delete
every vertex with degree < k, recompute degrees, repeat to fixpoint.

Distributed shape (this imports nothing from operators/graph.py,
sharing only the edges(a,b) convention):

- each round is ONE degree aggregate over the oriented edge table
  (explode both directions → groupBy node) plus TWO semi joins
  filtering edges to surviving endpoints — cost proportional to the
  surviving edge set, which shrinks monotonically;
- rounds are driver-side loop steps over DataFrames (the
  pointer-doubling closure pattern); ``rounds`` bounds them
  explicitly. With ``until_fixpoint`` the loop stops early when a
  cheap count shows no vertex was dropped — the count action is on
  the already-computed degree frame, so it adds no extra shuffle;
- peeling converges in <= |V| rounds but in practice a handful: each
  round must drop >= 1 vertex or the loop exits.

Registered-query discipline: the oracle unrolls EXACTLY ``rounds``
peels, so the query variant pins ``rounds`` and leaves
``until_fixpoint`` off (a converged graph makes extra rounds no-ops,
which keeps the pinned-round result equal to the fixpoint whenever
convergence is reached within the budget — asserted in tests, not
assumed by the oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _degrees(edges: DataFrame) -> DataFrame:
    both = edges.select(F.col("a").alias("n")).unionAll(
        edges.select(F.col("b").alias("n"))
    )
    return both.groupBy("n").agg(F.count(F.lit(1)).alias("deg"))


def k_core_peel(
    edges: DataFrame,
    k: int,
    rounds: int,
    until_fixpoint: bool = False,
) -> DataFrame:
    """Surviving edge set after ``rounds`` degree-peels at threshold k.

    ``edges`` must be canonical undirected (a < b, distinct). Returns
    the filtered edge frame; final degrees are one aggregate away
    (``_degrees``). Each round repartitions nothing explicitly — the
    degree groupBy shuffles on the node key and the semi joins reuse
    broadcast or shuffle as the survivor set shrinks (AQE downgrades
    to broadcast once survivors fit).
    """
    cur = edges
    for _ in range(rounds):
        deg = _degrees(cur)
        keep = deg.where(F.col("deg") >= k).select("n")
        if until_fixpoint:
            # one count on the frame we just built — no extra lineage
            if deg.where(F.col("deg") < k).limit(1).count() == 0:
                break
        nxt = (
            cur.join(
                keep.select(F.col("n").alias("a")), "a", "left_semi"
            ).join(keep.select(F.col("n").alias("b")), "b", "left_semi")
        ).select("a", "b")
        # bound lineage growth across rounds (the looped-union lesson:
        # localCheckpoint keeps each round's plan flat)
        cur = nxt.localCheckpoint(eager=False)
    return cur


def sql_k_core_ctes(k: int, rounds: int) -> str:
    """DuckDB oracle: unrolled peels over an ``edges(a, b)`` CTE.
    Yields ``kcore_edges(a, b)`` — embed after the edges CTE."""
    prev = "edges"
    parts = []
    for r in range(1, rounds + 1):
        parts.append(
            f"""deg{r} AS (
      SELECT n, COUNT(*) AS deg FROM (
        SELECT a AS n FROM {prev} UNION ALL SELECT b AS n FROM {prev}
      ) GROUP BY n
    ), keep{r} AS (SELECT n FROM deg{r} WHERE deg >= {k}),
    e{r} AS (
      SELECT a, b FROM {prev}
      WHERE a IN (SELECT n FROM keep{r})
        AND b IN (SELECT n FROM keep{r})
    )"""
        )
        prev = f"e{r}"
    return (
        ",\n    ".join(parts)
        + f",\n    kcore_edges AS (SELECT a, b FROM {prev})"
    )
