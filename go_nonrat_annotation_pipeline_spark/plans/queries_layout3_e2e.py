"""3-D Hilbert layout E2E (VERDICT r8 next-round #5).

``corpus_layout3_e2e`` composes the whole write→read→skip story as ONE
oracle-checked DAG: derive three bounded filter dimensions from
lineitem → 3-D Hilbert key (Skilling transform, shared expression
text) and 3-ary Morton key → assign rows to files under each of the
three layouts (hilbert / zorder3 / natural) → per-file min/max
envelopes (exactly the statistics a parquet footer carries) → evaluate
a fixed panel of 3-D box probes against the envelopes → per-probe
count of files that must be READ under each layout.

Determinism note: the file assignment here is NTILE over the layout
order — the exact-quantile model of what `hilbert_nd.layout_by_hilbert`
(repartitionByRange + sortWithinPartitions) produces with sampled
boundaries. NTILE is a diagnostic global-order window (single sort at
audit scale — same caveat and labeling as the locality queries); the
production write path is layout_by_hilbert, whose REAL parquet footers
are exercised by tools/skipping_probe.py --3d and
tests/test_layout3_e2e.py. The registered model and the real footers
agree on the headline (hilbert < zorder3 < natural reads; SCALE.md
d=3: 0.15 / 0.26 / 1.00).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..operators.hilbert_nd import (
    sql_hilbert_nd_ctes,
    sql_z_value_nd,
    with_hilbert_key_nd,
    z_value_nd,
)
from ..sources.testdata import load_table
from .registry import register

_BITS = 6          # 64x64x64 grid
_N_FILES = 30
_N_PROBES = 8
_EXTENT = 16       # probe boxes are 16x16x16 (= 1/64 of the grid volume)

_DIMS = ("(l_partkey % 64)", "(l_suppkey % 64)", "(l_orderkey % 64)")
_Z_SQL = sql_z_value_nd(_DIMS, _BITS)

_SRC_CTE = """
    l3_src AS (
      SELECT l_partkey % 64 AS hx0_0, l_suppkey % 64 AS hx1_0,
             l_orderkey % 64 AS hx2_0,
             l_partkey, l_suppkey, l_orderkey, l_linenumber
      FROM lineitem
    )"""

_CARRY = ("l_partkey", "l_suppkey", "l_orderkey", "l_linenumber")

# per-file envelope under one layout order, as a reusable SQL shape
_ENV = """
      SELECT f, MIN(x) AS min_x, MAX(x) AS max_x,
             MIN(y) AS min_y, MAX(y) AS max_y,
             MIN(z) AS min_z, MAX(z) AS max_z
      FROM {src} GROUP BY f"""

_READS = """
      SELECT p.g, CAST(COUNT(*) AS BIGINT) AS n
      FROM l3_probes p JOIN {env} e
        ON e.max_x >= p.x0 AND e.min_x <= p.x1
       AND e.max_y >= p.y0 AND e.min_y <= p.y1
       AND e.max_z >= p.z0 AND e.min_z <= p.z1
      GROUP BY p.g"""

_ORACLE = (
    f"""
    WITH {_SRC_CTE},
    {sql_hilbert_nd_ctes('l3_src', 3, _BITS, _CARRY)},
    l3_keys AS (
      SELECT l_partkey % 64 AS x, l_suppkey % 64 AS y,
             l_orderkey % 64 AS z,
             hkey, {_Z_SQL} AS zval, l_orderkey, l_linenumber
      FROM hnd_final
    ),
    l3_fh AS (
      SELECT x, y, z, NTILE({_N_FILES}) OVER
        (ORDER BY hkey, l_orderkey, l_linenumber) AS f FROM l3_keys
    ),
    l3_fz AS (
      SELECT x, y, z, NTILE({_N_FILES}) OVER
        (ORDER BY zval, l_orderkey, l_linenumber) AS f FROM l3_keys
    ),
    l3_fr AS (
      SELECT x, y, z, NTILE({_N_FILES}) OVER
        (ORDER BY l_orderkey, l_linenumber) AS f FROM l3_keys
    ),
    l3_eh AS ({_ENV.format(src='l3_fh')}),
    l3_ez AS ({_ENV.format(src='l3_fz')}),
    l3_er AS ({_ENV.format(src='l3_fr')}),
    l3_probes AS (
      SELECT g, (g * 7) % 48 AS x0, (g * 7) % 48 + {_EXTENT - 1} AS x1,
             (g * 11) % 48 AS y0, (g * 11) % 48 + {_EXTENT - 1} AS y1,
             (g * 13) % 48 AS z0, (g * 13) % 48 + {_EXTENT - 1} AS z1
      FROM (SELECT CAST(UNNEST(GENERATE_SERIES(0, {_N_PROBES - 1}))
                        AS BIGINT) AS g)
    ),
    l3_rh AS ({_READS.format(env='l3_eh')}),
    l3_rz AS ({_READS.format(env='l3_ez')}),
    l3_rr AS ({_READS.format(env='l3_er')})
    SELECT p.g AS probe,
           CAST({_N_FILES} AS BIGINT) AS n_files,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS read_hilbert,
           CAST(COALESCE(zz.n, 0) AS BIGINT) AS read_zorder3,
           CAST(COALESCE(r.n, 0) AS BIGINT) AS read_natural
    FROM l3_probes p
    LEFT JOIN l3_rh h ON h.g = p.g
    LEFT JOIN l3_rz zz ON zz.g = p.g
    LEFT JOIN l3_rr r ON r.g = p.g
    """
)


def _envelopes(keyed, order_cols):
    f = F.ntile(_N_FILES).over(Window.orderBy(*order_cols))
    return (
        keyed.select("x", "y", "z", f.alias("f"))
        .groupBy("f")
        .agg(
            F.min("x").alias("min_x"), F.max("x").alias("max_x"),
            F.min("y").alias("min_y"), F.max("y").alias("max_y"),
            F.min("z").alias("min_z"), F.max("z").alias("max_z"),
        )
    )


def _reads(env, probes, alias):
    cond = (
        (env.max_x >= probes.x0) & (env.min_x <= probes.x1)
        & (env.max_y >= probes.y0) & (env.min_y <= probes.y1)
        & (env.max_z >= probes.z0) & (env.min_z <= probes.z1)
    )
    return (
        probes.join(env, cond)
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias(alias))
    )


@register(
    "corpus_layout3_e2e",
    _ORACLE,
    doc="3-D Hilbert layout E2E: Skilling key + 3-ary Morton baseline → "
    "exact-quantile file assignment per layout → per-file min/max "
    "envelopes (the parquet-footer statistics) → 8-box probe panel → "
    "files-read counts per layout. Oracle-checked model of the "
    "hilbert_nd.layout_by_hilbert write path (real footers: "
    "tools/skipping_probe.py --3d, tests/test_layout3_e2e.py)",
)
def corpus_layout3_e2e(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    li = li.withColumns(
        {
            "x": (F.col("l_partkey") % 64).cast("long"),
            "y": (F.col("l_suppkey") % 64).cast("long"),
            "z": (F.col("l_orderkey") % 64).cast("long"),
        }
    )
    keyed = with_hilbert_key_nd(li, ["x", "y", "z"], _BITS).withColumn(
        "zval", z_value_nd([F.col("x"), F.col("y"), F.col("z")], _BITS)
    )
    env_h = _envelopes(keyed, ["hkey", "l_orderkey", "l_linenumber"])
    env_z = _envelopes(keyed, ["zval", "l_orderkey", "l_linenumber"])
    env_r = _envelopes(keyed, ["l_orderkey", "l_linenumber"])
    probes = spark.range(_N_PROBES).select(
        F.col("id").alias("g"),
        ((F.col("id") * 7) % 48).alias("x0"),
        ((F.col("id") * 7) % 48 + (_EXTENT - 1)).alias("x1"),
        ((F.col("id") * 11) % 48).alias("y0"),
        ((F.col("id") * 11) % 48 + (_EXTENT - 1)).alias("y1"),
        ((F.col("id") * 13) % 48).alias("z0"),
        ((F.col("id") * 13) % 48 + (_EXTENT - 1)).alias("z1"),
    )
    rh = _reads(env_h, probes, "rh")
    rz = _reads(env_z, probes, "rz")
    rr = _reads(env_r, probes, "rr")
    return (
        probes.select("g")
        .join(rh, "g", "left")
        .join(rz, "g", "left")
        .join(rr, "g", "left")
        .select(
            F.col("g").alias("probe"),
            F.lit(_N_FILES).cast("long").alias("n_files"),
            F.coalesce("rh", F.lit(0)).cast("long").alias("read_hilbert"),
            F.coalesce("rz", F.lit(0)).cast("long").alias("read_zorder3"),
            F.coalesce("rr", F.lit(0)).cast("long").alias("read_natural"),
        )
    )
