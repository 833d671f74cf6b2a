"""Join-cardinality estimation from CMS sketches.

The optimizer-style sketch application: |A ⋈ B| on an equi-key equals
the inner product of the two sides' key-frequency vectors, and the
count-min inner product min_d Σ_b cmsA[d][b]·cmsB[d][b] upper-bounds
it without scanning either table again (the AGMS/CMS join-size
estimator). Planning a 100 TB join then costs two depth×width counter
tables instead of the join itself. The query reports the true size,
the exact inner product (the identity — hash-proved equal), and the
sketch estimate (a deterministic collision-inflated upper bound).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators.sketches import hash60, sql_hash60
from ..sources.testdata import load_table
from .registry import register

_D = 4
# width drives estimator quality: expected collision inflation of the
# inner product is |A|·|B|/width. At the driver SF (10k×15k rows)
# width 256 inflated 7×; 4096 lands ~1.3× over truth while the counter
# table stays 4×4096 rows — size width to |A|·|B|/tolerable_error.
_W = 4096


def _counters(df, key_col):
    salts = F.array(*[F.lit(str(d)) for d in range(_D)])
    return (
        df.select(
            F.posexplode(salts).alias("d", "salt"),
            F.col(key_col).cast("string").alias("k"),
        )
        .select(
            "d",
            (
                hash60(F.concat(F.col("salt"), F.lit("|"), F.col("k")))
                % _W
            ).alias("bucket"),
        )
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def _sql_counters(table, key_expr, name):
    h = sql_hash60("CAST(d AS VARCHAR) || '|' || __k")
    return f"""
    {name}_b AS (
      SELECT CAST({key_expr} AS VARCHAR) AS __k FROM {table}
    ), {name} AS (
      SELECT d, {h} % {_W} AS bucket, COUNT(*) AS cnt
      FROM {name}_b, UNNEST(GENERATE_SERIES(0, {_D - 1})) AS t(d)
      GROUP BY d, bucket
    )"""


@register(
    "q_join_size_cms",
    f"""
    WITH {_sql_counters('events', 'user_id', 'ce')},
    {_sql_counters('orders', 'o_custkey', 'co')},
    inner_d AS (
      SELECT a.d, SUM(a.cnt * b.cnt) AS ip
      FROM ce a JOIN co b USING (d, bucket)
      GROUP BY a.d
    ),
    freq AS (
      SELECT CAST(SUM(e.n * o.n) AS BIGINT) AS exact_ip
      FROM (SELECT user_id AS k, COUNT(*) AS n FROM events GROUP BY 1) e
      JOIN (SELECT o_custkey AS k, COUNT(*) AS n FROM orders GROUP BY 1) o
        USING (k)
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT)
         FROM events e JOIN orders o ON e.user_id = o.o_custkey)
        AS actual,
      (SELECT exact_ip FROM freq) AS exact_inner,
      (SELECT CAST(MIN(ip) AS BIGINT) FROM inner_d) AS cms_estimate
    """,
    doc="CMS join-size estimation (AGMS style): |events ⋈ orders| "
    "upper-bounded by min_d of the counter-table inner product — "
    "plan-time cardinality from two depth×width sketches, no join "
    "run; the exact frequency inner product is reported alongside to "
    "prove the identity actual = Σ cntA·cntB",
)
def q_join_size_cms(spark, sf_dir):
    events = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    ce = _counters(events, "user_id")
    co = _counters(orders, "o_custkey")
    inner_d = (
        ce.alias("a")
        .join(co.alias("b"), ["d", "bucket"])
        .groupBy("d")
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("ip"))
    )
    fe = events.groupBy(F.col("user_id").alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    fo = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.count(F.lit(1)).alias("n")
    )
    exact = fe.join(fo, "k").agg(
        F.sum(fe["n"] * fo["n"]).cast("long").alias("exact_inner")
    )
    actual = (
        events.join(orders, events["user_id"] == orders["o_custkey"])
        .agg(F.count(F.lit(1)).cast("long").alias("actual"))
    )
    est = inner_d.agg(F.min("ip").cast("long").alias("cms_estimate"))
    return actual.crossJoin(exact).crossJoin(est)
