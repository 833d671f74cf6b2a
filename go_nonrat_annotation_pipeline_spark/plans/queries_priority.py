"""Priority-sampling queries (operators/sampling_priority.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import sampling_priority as PR
from ..sources.testdata import load_table
from .registry import register

_K = 200
_SALT = "prio0"
_KEY = "CAST(l_orderkey AS VARCHAR) || '_' || CAST(l_linenumber AS VARCHAR)"

_PRI = PR.sql_priority("l_quantity", _KEY, _SALT)

_CTES = f"""
    pr_all AS (
      SELECT l_orderkey, l_linenumber,
             CAST(l_quantity AS BIGINT) AS w, {_PRI} AS priority
      FROM lineitem
    ), pr_top1 AS (
      SELECT * FROM pr_all
      ORDER BY priority DESC, l_orderkey, l_linenumber LIMIT {_K + 1}
    ), pr_tau AS (
      SELECT CASE WHEN COUNT(*) > {_K} THEN MIN(priority) ELSE 0 END AS tau
      FROM pr_top1
    ), pr_sample AS (
      SELECT p.l_orderkey, p.l_linenumber, p.w, p.priority,
             GREATEST(p.w, t.tau) AS w_est
      FROM (SELECT * FROM pr_top1
            ORDER BY priority DESC, l_orderkey, l_linenumber
            LIMIT {_K}) p
      CROSS JOIN pr_tau t
    )"""


def _spark_sample(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    key = F.concat_ws(
        "_", F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    return PR.priority_sample(
        li, F.col("l_quantity"), key, _K, _SALT,
        order_cols=["l_orderkey", "l_linenumber"],
    ).select("l_orderkey", "l_linenumber", "w", "priority", "w_est")


@register(
    "q_priority_sample",
    "    WITH" + _CTES + """
    SELECT l_orderkey, l_linenumber, w, priority, w_est FROM pr_sample
    """,
    doc="priority sampling (Duffield-Lund-Thorup JACM'07): top-k by "
    "w·SCALE DIV u with deterministic md5 u — budgeted weighted sample "
    "whose max(w, τ) estimators are unbiased for EVERY subset sum; "
    "priorities are a pure map, the sample a distributed TakeOrdered "
    "(operators/sampling_priority.priority_sample)",
)
def q_priority_sample(spark, sf_dir):
    return _spark_sample(spark, sf_dir)


@register(
    "q_priority_sample_audit",
    "    WITH" + _CTES + """
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pr_sample) AS n_sample,
           (SELECT CAST(SUM(w) AS BIGINT) FROM pr_all) AS total_w,
           (SELECT CAST(SUM(w_est) AS BIGINT) FROM pr_sample)
             AS est_total_w,
           (SELECT CAST(tau AS BIGINT) FROM pr_tau) AS tau
    """,
    doc="priority-sample estimator audit: the k-row sample's Σ max(w,τ) "
    "against the true population weight — the unbiasedness evidence a "
    "budgeted-sketch consumer signs off on",
)
def q_priority_sample_audit(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    sample = _spark_sample(spark, sf_dir).localCheckpoint()
    # tau is only recoverable from sample rows it actually raised, so
    # recompute it the same way the operator did for an exact audit column
    pri = PR.with_priority(
        li,
        F.col("l_quantity"),
        F.concat_ws(
            "_", F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        ),
        _SALT,
    )
    rows = (
        pri.orderBy(F.desc("priority"), "l_orderkey", "l_linenumber")
        .limit(_K + 1)
        .select("priority")
        .orderBy(F.desc("priority"))
        .collect()
    )
    tau = rows[_K].priority if len(rows) > _K else 0
    return (
        sample.agg(
            F.count(F.lit(1)).cast("long").alias("n_sample"),
            F.sum("w_est").cast("long").alias("est_total_w"),
        )
        .crossJoin(li.agg(F.sum("l_quantity").cast("long").alias("total_w")))
        .select(
            "n_sample",
            "total_w",
            "est_total_w",
            F.lit(tau).cast("long").alias("tau"),
        )
    )
