"""HLL set-intersection estimation via inclusion-exclusion.

The sketch family estimates cardinality (KMV, HLL) and set overlap by
bottom-k coincidence (q_kmv_jaccard); this adds the OTHER standard
overlap estimator — HLL inclusion-exclusion:
|A ∩ B| ≈ est(A) + est(B) - est(A ∪ B), where the union sketch is the
register-wise MAX (the same merge law q_hll_merge_law attests). At
100 TB two key sets compare through 3×64 registers.

Exactness discipline (what makes a float estimator hash-exact): the
HLL harmonic sum z = Σ 2^-rho is a dyadic rational — with
rho ∈ [0, 55] every term is an integer multiple of 2^-55, so
z_scaled = Σ 2^(55-rho) is an EXACT BIGINT (absent registers
contribute 2^55 each). The estimate
  raw = alpha·m²·2^55 / z_scaled      (alpha·m²·2^55 folded in Python
                                       to one literal both engines)
  est = m·ln(m/zeros)  when raw <= 2.5m and zeros > 0   (linear count)
is then a deterministic scalar function of the two integers
(z_scaled, zeros), evaluated by the IDENTICAL double expression on
both engines and rounded — no cross-row float summation anywhere.
True intersection/union counts ship in the same row as accuracy
evidence (the q_kmv_jaccard pattern).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import sketches as SK
from ..sources.testdata import load_table
from .registry import register

_P = 6
_M = 1 << _P  # 64 registers
_A, _B = "click", "purchase"
# alpha(m=64) * m^2 * 2^55 — folded to one literal for both engines
_RAW_NUM = repr(0.709 * (_M**2) * float(1 << 55))


def _est_sql(z: str, zeros: str) -> str:
    """est from (z_scaled, zeros) — identical text on both engines."""
    return f"""
      CASE WHEN {_RAW_NUM} / CAST({z} AS DOUBLE) <= {2.5 * _M}
                AND {zeros} > 0
           THEN {_M}.0 * LN({_M}.0 / CAST({zeros} AS DOUBLE))
           ELSE {_RAW_NUM} / CAST({z} AS DOUBLE)
      END"""


def _regs_sql(tag: str) -> str:
    return SK.sql_hll_registers(
        f"(SELECT * FROM events WHERE event_type = '{tag}') t",
        "CAST(user_id AS VARCHAR)",
        _P,
    )


_STATS = f"""
      SELECT CAST(SUM(CAST(1 AS BIGINT) << (55 - max_rho))
                  + ({_M} - COUNT(*)) * (CAST(1 AS BIGINT) << 55)
               AS BIGINT) AS z_scaled,
             CAST({_M} - COUNT(*) AS BIGINT) AS zeros
"""


@register(
    "q_hll_intersect",
    f"""
    WITH ra AS ({_regs_sql(_A)}),
    rb AS ({_regs_sql(_B)}),
    ru AS (
      SELECT register, MAX(max_rho) AS max_rho
      FROM (SELECT * FROM ra UNION ALL SELECT * FROM rb)
      GROUP BY register
    ),
    sa AS ({_STATS} FROM ra),
    sb AS ({_STATS} FROM rb),
    su AS ({_STATS} FROM ru),
    est AS (
      SELECT
        CAST(ROUND({_est_sql("sa.z_scaled", "sa.zeros")}) AS BIGINT)
          AS est_a,
        CAST(ROUND({_est_sql("sb.z_scaled", "sb.zeros")}) AS BIGINT)
          AS est_b,
        CAST(ROUND({_est_sql("su.z_scaled", "su.zeros")}) AS BIGINT)
          AS est_union
      FROM sa, sb, su
    ),
    tru AS (
      SELECT
        CAST((SELECT COUNT(*) FROM
               (SELECT DISTINCT user_id FROM events
                WHERE event_type = '{_A}') a
              JOIN (SELECT DISTINCT user_id FROM events
                    WHERE event_type = '{_B}') b USING (user_id))
             AS BIGINT) AS n_inter_true,
        CAST((SELECT COUNT(DISTINCT user_id) FROM events
              WHERE event_type IN ('{_A}', '{_B}'))
             AS BIGINT) AS n_union_true
    )
    SELECT est_a, est_b, est_union,
           CAST(est_a + est_b - est_union AS BIGINT) AS est_inter,
           n_inter_true, n_union_true
    FROM est, tru
    """,
    doc="HLL inclusion-exclusion intersection estimate: two key sets "
    "compare through 3x64 registers (union = register-wise max, the "
    "attested merge law); the harmonic sum is kept as the exact "
    "integer sum of 2^(55-rho), making the float estimator a "
    "deterministic scalar of two BIGINTs — hash-exact across engines; "
    "true intersection/union in the same row as accuracy evidence",
)
def q_hll_intersect(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    key = F.col("user_id").cast("string")

    def regs(tag):
        return SK.hll_registers(
            ev.where(F.col("event_type") == tag), key, _P
        )

    ra, rb = regs(_A), regs(_B)
    ru = (
        ra.unionByName(rb)
        .groupBy("register")
        .agg(F.max("max_rho").alias("max_rho"))
    )

    def stats(r, suffix):
        return r.agg(
            F.expr(
                f"CAST(SUM(SHIFTLEFT(CAST(1 AS BIGINT),"
                f" CAST(55 - max_rho AS INT)))"
                f" + ({_M} - COUNT(*)) * SHIFTLEFT(CAST(1 AS BIGINT), 55)"
                f" AS BIGINT)"
            ).alias(f"z_{suffix}"),
            F.expr(f"CAST({_M} - COUNT(*) AS BIGINT)").alias(
                f"zeros_{suffix}"
            ),
        )

    est = (
        stats(ra, "a")
        .crossJoin(F.broadcast(stats(rb, "b")))
        .crossJoin(F.broadcast(stats(ru, "u")))
        .select(
            F.expr(
                f"CAST(ROUND({_est_sql('z_a', 'zeros_a')}) AS BIGINT)"
            ).alias("est_a"),
            F.expr(
                f"CAST(ROUND({_est_sql('z_b', 'zeros_b')}) AS BIGINT)"
            ).alias("est_b"),
            F.expr(
                f"CAST(ROUND({_est_sql('z_u', 'zeros_u')}) AS BIGINT)"
            ).alias("est_union"),
        )
    )
    ua = ev.where(F.col("event_type") == _A).select("user_id").distinct()
    ub = ev.where(F.col("event_type") == _B).select("user_id").distinct()
    tru = (
        ua.join(ub, "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter_true"))
        .crossJoin(
            ua.unionByName(ub)
            .distinct()
            .agg(F.count(F.lit(1)).cast("long").alias("n_union_true"))
        )
    )
    return (
        est.crossJoin(F.broadcast(tru))
        .withColumn(
            "est_inter",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).cast(
                "long"
            ),
        )
        .select(
            "est_a",
            "est_b",
            "est_union",
            "est_inter",
            "n_inter_true",
            "n_union_true",
        )
    )
