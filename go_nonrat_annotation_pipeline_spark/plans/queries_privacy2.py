"""Mann-Whitney U test + t-closeness audit.

- ``q_mannwhitney_u``: the nonparametric two-sample location test the
  drift family (KL/PSI/KS) and the parametric moments lack — rank-sum
  U statistics between two sources' document-length distributions.
  Ranks come from ``operators/ranking.value_rank2`` (distinct-value
  collapse → range-partitioned local ranks → broadcast prefix
  offsets — never a global single-task RANK() window); doubled
  tie-averaged ranks keep U exactly integral: with R2 = Σ 2r̄,
  U*2 = R2 - n(n+1). The identity u_a_x2 + u_b_x2 = 2·n_a·n_b holds
  by construction and the oracle checks it implicitly through the
  value hash.
- ``q_t_closeness``: completes the disclosure-risk trio next to
  ``q_k_anonymity`` and ``q_l_diversity``. For each quasi-identifier
  group (mktsegment × nation) the Earth-Mover's-Distance between the
  group's and the global distribution of an ORDERED sensitive
  attribute (account-balance decile) — the l-diversity blind spot
  (a group can be 3-diverse yet all-high-income). For m equal-spaced
  levels, EMD = Σ_i |CumP_g(i) - CumP(i)| / (m-1); cleared of
  denominators per level: d_i = |cum_g(i)·N - cum(i)·n_g| (exact
  BIGINT), t_ppm = 10^6·Σd_i DIV ((m-1)·n_g·N) via DECIMAL(38,0)
  integral division. Decile ids use (acctbal_e2 + 100000) DIV 110000
  — shifted NON-NEGATIVE before the integral divide, because Spark
  DIV truncates toward zero while DuckDB ``//`` floors (they agree
  only on non-negative operands). The level grid is an explicit
  10-row broadcast (missing levels would silently misalign the
  cumulative sums); all windows partition by the group key.

Reference: Mann & Whitney 1947; Li, Li & Venkatasubramanian, ICDE
2007 ("t-Closeness: Privacy Beyond k-Anonymity and l-Diversity").
North-star extension surface (reference repo has no analog).
"""

from __future__ import annotations

from pyspark.sql import Window, functions as F

from ..operators.ranking import value_rank2
from ..sources.testdata import load_table
from .registry import register

_SRC_A, _SRC_B = "src0", "src1"


@register(
    "q_mannwhitney_u",
    f"""
    WITH s AS (
      SELECT source, n_chars AS x FROM documents
      WHERE source IN ('{_SRC_A}', '{_SRC_B}') AND n_chars IS NOT NULL
    ),
    ranked AS (
      SELECT source,
             2 * RANK() OVER (ORDER BY x)
               + COUNT(*) OVER (PARTITION BY x) - 1 AS r2
      FROM s
    ),
    agg AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(r2) AS BIGINT) AS sr2
      FROM ranked GROUP BY source
    )
    SELECT '{_SRC_A}' AS source_a, '{_SRC_B}' AS source_b,
           a.n AS n_a, b.n AS n_b,
           CAST(a.sr2 - a.n * (a.n + 1) AS BIGINT) AS u_a_x2,
           CAST(b.sr2 - b.n * (b.n + 1) AS BIGINT) AS u_b_x2
    FROM agg a, agg b
    WHERE a.source = '{_SRC_A}' AND b.source = '{_SRC_B}'
    """,
    doc="Mann-Whitney U two-sample rank test between two sources' "
    "document-length distributions; tie-averaged doubled ranks via "
    "the distributed ranking operator (no global single-task rank "
    "window), U*2 exactly integral, single-row output",
)
def q_mannwhitney_u(spark, sf_dir):
    s = (
        load_table(spark, sf_dir, "documents")
        .where(
            F.col("source").isin(_SRC_A, _SRC_B)
            & F.col("n_chars").isNotNull()
        )
        .select("source", F.col("n_chars").alias("x"))
    )
    r2 = value_rank2(s, "x").select("x", "rank2")
    # per (source, value) counts join the rank table on the value —
    # both sides are distinct-value-sized, one hash join
    sv = s.groupBy("source", "x").agg(F.count(F.lit(1)).alias("c"))
    agg = (
        sv.join(r2, "x")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n"),
            F.sum(F.col("c") * F.col("rank2")).cast("long").alias("sr2"),
        )
    )
    a = agg.where(F.col("source") == _SRC_A).select(
        F.col("n").alias("n_a"), F.col("sr2").alias("sr2_a")
    )
    b = agg.where(F.col("source") == _SRC_B).select(
        F.col("n").alias("n_b"), F.col("sr2").alias("sr2_b")
    )
    return a.crossJoin(F.broadcast(b)).select(
        F.lit(_SRC_A).alias("source_a"),
        F.lit(_SRC_B).alias("source_b"),
        "n_a",
        "n_b",
        (F.col("sr2_a") - F.col("n_a") * (F.col("n_a") + 1))
        .cast("long")
        .alias("u_a_x2"),
        (F.col("sr2_b") - F.col("n_b") * (F.col("n_b") + 1))
        .cast("long")
        .alias("u_b_x2"),
    )


_M = 10  # sensitive-attribute levels (acctbal deciles, fixed domain)
_T_TOP = 20


@register(
    "q_t_closeness",
    f"""
    WITH base AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             CAST((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)
                   + 100000) // 110000 AS BIGINT) AS lvl
      FROM customer
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM base),
    gcum AS (
      SELECT g.lvl,
             CAST(SUM(CAST(COALESCE(c, 0) AS BIGINT))
                  OVER (ORDER BY g.lvl) AS BIGINT) AS cum_all
      FROM (SELECT UNNEST(GENERATE_SERIES(0, {_M - 1})) AS lvl) g
      LEFT JOIN (SELECT lvl, COUNT(*) AS c FROM base GROUP BY lvl) b
        USING (lvl)
    ),
    grp AS (SELECT seg, nat, CAST(COUNT(*) AS BIGINT) AS n_g
            FROM base GROUP BY seg, nat),
    grid AS (
      SELECT grp.seg, grp.nat, grp.n_g, g.lvl,
             CAST(SUM(CAST(COALESCE(b.c, 0) AS BIGINT))
                  OVER (PARTITION BY grp.seg, grp.nat
                        ORDER BY g.lvl) AS BIGINT) AS cum_g
      FROM grp
      CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, {_M - 1})) AS lvl) g
      LEFT JOIN (SELECT seg, nat, lvl, COUNT(*) AS c
                 FROM base GROUP BY seg, nat, lvl) b
        ON b.seg = grp.seg AND b.nat = grp.nat AND b.lvl = g.lvl
    )
    SELECT seg, CAST(nat AS BIGINT) AS nat, n_g,
           CAST(CAST(1000000 AS HUGEINT)
                * SUM(ABS(CAST(cum_g AS HUGEINT) * big_n
                          - CAST(cum_all AS HUGEINT) * n_g))
                // (CAST({_M - 1} AS HUGEINT) * n_g * big_n)
                AS BIGINT) AS t_ppm
    FROM grid, gcum, tot
    WHERE grid.lvl = gcum.lvl AND grid.lvl < {_M - 1}
    GROUP BY seg, nat, n_g, big_n
    ORDER BY t_ppm DESC, seg, nat
    LIMIT {_T_TOP}
    """,
    doc="t-closeness audit: per quasi-identifier group "
    "(mktsegment x nation), integer Earth-Mover's-Distance between "
    "the group's and global acctbal-decile distributions — per-level "
    "denominators cleared to |cum_g*N - cum*n_g| exact BIGINTs, "
    "t_ppm via DECIMAL(38,0) integral division; explicit 10-level "
    "broadcast grid, windows partitioned by group; top-20 most "
    "disclosing groups",
)
def q_t_closeness(spark, sf_dir):
    base = load_table(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.col("c_nationkey").alias("nat"),
        F.expr(
            "CAST((CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " + 100000) DIV 110000 AS BIGINT)"
        ).alias("lvl"),
    )
    levels = spark.range(_M).select(F.col("id").alias("lvl"))
    tot = base.agg(F.count(F.lit(1)).cast("long").alias("big_n"))
    # global cumulative over the fixed 10-level grid (a 10-row frame;
    # the window partitions by a column-derived constant so Catalyst
    # cannot fold the partition away into a warning)
    gcnt = base.groupBy("lvl").agg(F.count(F.lit(1)).alias("c"))
    wg = Window.partitionBy(F.col("lvl") % 1).orderBy("lvl")
    glob = (
        levels.join(gcnt, "lvl", "left")
        .withColumn(
            "cum_all",
            F.sum(F.coalesce(F.col("c"), F.lit(0))).over(wg).cast("long"),
        )
        .select("lvl", "cum_all")
    )
    grp = base.groupBy("seg", "nat").agg(
        F.count(F.lit(1)).cast("long").alias("n_g")
    )
    cnt = base.groupBy("seg", "nat", "lvl").agg(
        F.count(F.lit(1)).alias("c")
    )
    wgrp = Window.partitionBy("seg", "nat").orderBy("lvl")
    grid = (
        grp.crossJoin(F.broadcast(levels))
        .join(cnt, ["seg", "nat", "lvl"], "left")
        .withColumn(
            "cum_g",
            F.sum(F.coalesce(F.col("c"), F.lit(0)))
            .over(wgrp)
            .cast("long"),
        )
    )
    return (
        grid.join(F.broadcast(glob), "lvl")
        .crossJoin(F.broadcast(tot))
        .where(F.col("lvl") < _M - 1)
        .groupBy("seg", "nat", "n_g", "big_n")
        .agg(
            F.sum(
                F.abs(
                    F.col("cum_g").cast("decimal(38,0)") * F.col("big_n")
                    - F.col("cum_all").cast("decimal(38,0)") * F.col("n_g")
                )
            ).alias("d")
        )
        .select(
            "seg",
            F.col("nat").cast("long").alias("nat"),
            "n_g",
            F.expr(
                f"CAST((CAST(1000000 AS DECIMAL(38,0)) * d)"
                f" DIV (CAST({_M - 1} AS DECIMAL(38,0)) * n_g * big_n)"
                f" AS BIGINT)"
            ).alias("t_ppm"),
        )
        .orderBy(F.desc("t_ppm"), F.asc("seg"), F.asc("nat"))
        .limit(_T_TOP)
    )
