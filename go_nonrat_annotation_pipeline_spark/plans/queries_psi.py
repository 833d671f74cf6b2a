"""Population stability index between two sources.

Distribution-drift monitor next to q_mixture_drift_kl: PSI =
Σ (p_i − q_i)·ln(p_i/q_i) over the binned length distributions of two
sources — the symmetric drift score model-monitoring dashboards
standardize on (PSI < 0.1 stable, > 0.25 shifted). Bins are the fixed
16-bucket n_chars histogram (the q_hist_by_source geometry); Laplace
+1 smoothing over the FULL fixed bin domain (a generated 0..15 frame,
not the observed bins) makes every log finite and both distributions
sum to one deterministically, so the per-bin contribution is a single
double expression of exact BIGINT counts — ppb-rounded before the
order-independent integer cross-bin sum (the repo's fixed-point
discipline). One grouped aggregation per source + a 16-row join.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..sources.testdata import load_table
from .registry import register

_A, _B = "src0", "src1"
_BINS = 16


def _bin_sql(col: str) -> str:
    return (
        f"CAST(LEAST(GREATEST(FLOOR((CAST({col} AS DOUBLE) - (0.0))"
        f" / (25.0)), 0), {_BINS - 1}) AS INT)"
    )


@register(
    "q_psi_drift",
    f"""
    WITH pbins AS (SELECT UNNEST(GENERATE_SERIES(0, {_BINS - 1})) AS bin),
    pa AS (
      SELECT {_bin_sql("n_chars")} AS bin, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents WHERE source = '{_A}' AND n_chars IS NOT NULL
      GROUP BY 1
    ),
    pb AS (
      SELECT {_bin_sql("n_chars")} AS bin, CAST(COUNT(*) AS BIGINT) AS c
      FROM documents WHERE source = '{_B}' AND n_chars IS NOT NULL
      GROUP BY 1
    ),
    tots AS (
      SELECT CAST((SELECT COALESCE(SUM(c), 0) FROM pa) AS BIGINT) AS na,
             CAST((SELECT COALESCE(SUM(c), 0) FROM pb) AS BIGINT) AS nb
    ),
    cells AS (
      SELECT b.bin,
             COALESCE(pa.c, 0) + 1 AS ca,
             COALESCE(pb.c, 0) + 1 AS cb,
             na + {_BINS} AS da, nb + {_BINS} AS db
      FROM pbins b
      LEFT JOIN pa ON b.bin = pa.bin
      LEFT JOIN pb ON b.bin = pb.bin
      CROSS JOIN tots
    ),
    contrib AS (
      SELECT CAST(ROUND(1000000000 *
               (CAST(ca AS DOUBLE) / da - CAST(cb AS DOUBLE) / db)
               * LN((CAST(ca AS DOUBLE) / da)
                    / (CAST(cb AS DOUBLE) / db))) AS BIGINT) AS c_ppb
      FROM cells
    )
    SELECT (SELECT na FROM tots) AS n_a,
           (SELECT nb FROM tots) AS n_b,
           CAST(SUM(c_ppb) AS BIGINT) AS psi_ppb
    FROM contrib
    """,
    doc="population stability index between two sources' length "
    "distributions: fixed 16-bin histogram, Laplace +1 smoothing over "
    "the generated full bin domain (finite logs, deterministic "
    "normalization), per-bin (p-q)ln(p/q) ppb-rounded before the "
    "integer cross-bin sum — one grouped pass per source + a 16-row "
    "join",
)
def q_psi_drift(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    binexpr = F.expr(
        f"CAST(LEAST(GREATEST(FLOOR((CAST(n_chars AS DOUBLE) - (0.0))"
        f" / (25.0)), 0), {_BINS - 1}) AS INT)"
    )

    def counts(src):
        return (
            docs.where(
                (F.col("source") == src) & F.col("n_chars").isNotNull()
            )
            .groupBy(binexpr.alias("bin"))
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    pa, pb = counts(_A), counts(_B)
    tots = (
        pa.agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("na"))
        .crossJoin(
            pb.agg(
                F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("nb")
            )
        )
    )
    bins = spark.range(_BINS).select(F.col("id").cast("int").alias("bin"))
    cells = (
        bins.join(F.broadcast(pa.withColumnRenamed("c", "ca0")), "bin", "left")
        .join(F.broadcast(pb.withColumnRenamed("c", "cb0")), "bin", "left")
        .crossJoin(F.broadcast(tots))
        .select(
            (F.coalesce("ca0", F.lit(0)) + 1).alias("ca"),
            (F.coalesce("cb0", F.lit(0)) + 1).alias("cb"),
            (F.col("na") + _BINS).alias("da"),
            (F.col("nb") + _BINS).alias("db"),
            "na",
            "nb",
        )
    )
    contrib = cells.withColumn(
        "c_ppb",
        F.expr(
            "CAST(ROUND(1000000000 *"
            " (CAST(ca AS DOUBLE) / da - CAST(cb AS DOUBLE) / db)"
            " * LN((CAST(ca AS DOUBLE) / da)"
            "      / (CAST(cb AS DOUBLE) / db))) AS BIGINT)"
        ),
    )
    return contrib.groupBy("na", "nb").agg(
        F.sum("c_ppb").cast("long").alias("psi_ppb")
    ).select(
        F.col("na").alias("n_a"),
        F.col("nb").alias("n_b"),
        "psi_ppb",
    )
