"""Golden-record survivorship queries (operators/survivorship.py).

Clusters are deterministic triples of customer records (c_custkey DIV
3) standing in for an ER output (the cluster ids from
q_entity_resolution_e2e compose the same way); the golden record
merges: longest name, modal market segment, the latest record's
nation, max balance in exact cents, member count.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import survivorship as SV
from ..sources.testdata import load_table
from .registry import register

_SRC = """(SELECT c_custkey // 3 AS cl, c_name, c_mktsegment, c_nationkey,
                  CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents,
                  c_custkey
           FROM customer)"""

_ORACLE = (
    "    WITH "
    + SV.sql_pick_cte(
        "gr_name", _SRC, "cl", "c_name",
        "LENGTH(c_name) DESC, c_name ASC",
    )
    + ", "
    + SV.sql_pick_mode_cte("gr_seg", _SRC, "cl", "c_mktsegment")
    + ", "
    + SV.sql_pick_cte(
        "gr_nat", _SRC, "cl", "c_nationkey",
        "c_custkey DESC, c_nationkey DESC",
    )
    + f""", gr_agg AS (
      SELECT cl, CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(MAX(bal_cents) AS BIGINT) AS max_bal_cents
      FROM {_SRC} GROUP BY cl
    )
    SELECT a.cl AS cluster, a.n_members,
           n.c_name AS name, s.c_mktsegment AS segment,
           CAST(t.c_nationkey AS BIGINT) AS nationkey,
           a.max_bal_cents
    FROM gr_agg a
    JOIN gr_name n ON n.cl = a.cl
    JOIN gr_seg s ON s.cl = a.cl
    JOIN gr_nat t ON t.cl = a.cl
    """
)


@register(
    "q_golden_record",
    _ORACLE,
    doc="golden-record survivorship (MDM merge after entity "
    "resolution): longest-name / modal-segment / latest-record-nation / "
    "max-balance-cents per cluster, every rule a deterministic-tiebreak "
    "keyed window — never engine mode()/arg_max (unspecified ties) "
    "(operators/survivorship.pick_mode/pick_longest/pick_latest)",
)
def q_golden_record(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer").select(
        F.expr("c_custkey DIV 3").alias("cl"),
        "c_name",
        "c_mktsegment",
        "c_nationkey",
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT)").alias("bal_cents"),
        "c_custkey",
    )
    name = SV.pick_longest(cust, "cl", "c_name")
    seg = SV.pick_mode(cust, "cl", "c_mktsegment")
    nat = SV.pick_latest(cust, "cl", "c_nationkey", "c_custkey")
    agg = cust.groupBy("cl").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max("bal_cents").cast("long").alias("max_bal_cents"),
    )
    return (
        agg.join(name, "cl")
        .join(seg, "cl")
        .join(nat, "cl")
        .select(
            F.col("cl").alias("cluster"),
            "n_members",
            F.col("c_name").alias("name"),
            F.col("c_mktsegment").alias("segment"),
            F.col("c_nationkey").cast("long").alias("nationkey"),
            "max_bal_cents",
        )
    )
