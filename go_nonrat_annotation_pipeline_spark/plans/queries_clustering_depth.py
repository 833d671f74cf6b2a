"""File-clustering depth audit.

The metric behind every OPTIMIZE/Z-ORDER decision (Delta clustering
metrics, Snowflake's clustering_depth): per data file, how many files'
[min, max] key ranges OVERLAP it. Depth ~1 means a point/range lookup
prunes to one file; depth ~n_files means the key is scattered and
every lookup scans everything. The audit compares two layouts of the
same corpus over the same probe key:

- `arrival`: files cut by doc_id order (ingest order) — the key is
  md5-scattered, so every file spans the whole key domain;
- `clustered`: files cut by key order (what a sort/Z-ORDER write
  produces) — ranges tile, depth collapses toward 1.

The file model is the repo's established DIAGNOSTIC NTILE form (see
plans/queries_layout3_e2e.py): a global row_number assigns rows to
equal files so the oracle reproduces the assignment exactly; the
PRODUCTION write path is range-partition + sort-within
(operators/hilbert_nd.layout_by_hilbert) and production depth comes
from parquet footers without scanning (tools/skipping_probe.py). The
depth computation itself is file-count-sized: one min/max aggregate
per file, then an interval self-join over n_files rows.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions import hashing as H
from ..sources.testdata import load_table
from .registry import register

_N_FILES = 32
_KEY_SQL = f"({H.sql_char_hash('text')} % 10000)"


def _layout_cte(tag: str, order_expr: str) -> str:
    return f"""
    {tag}_rows AS (
      SELECT {_KEY_SQL} AS k,
             ROW_NUMBER() OVER (ORDER BY {order_expr}) - 1 AS rn,
             COUNT(*) OVER () AS n
      FROM documents
    ), {tag}_files AS (
      SELECT CAST((rn * {_N_FILES}) // n AS BIGINT) AS file_id,
             MIN(k) AS lo, MAX(k) AS hi
      FROM {tag}_rows GROUP BY 1
    ), {tag}_depth AS (
      SELECT a.file_id,
             CAST(COUNT(*) AS BIGINT) AS depth
      FROM {tag}_files a JOIN {tag}_files b
        ON b.lo <= a.hi AND b.hi >= a.lo
      GROUP BY a.file_id
    ), {tag}_sum AS (
      SELECT '{tag}' AS layout,
             CAST(COUNT(*) AS BIGINT) AS n_files,
             CAST(MAX(depth) AS BIGINT) AS max_depth,
             CAST(SUM(depth) * 1000000 // COUNT(*) AS BIGINT)
               AS avg_depth_ppm
      FROM {tag}_depth
    )"""


def _spark_layout(docs, order_cols, tag):
    k = F.pmod(H.char_hash(F.col("text")), F.lit(10000)).alias("k")
    w = Window.orderBy(*order_cols)
    rows = docs.select(
        k,
        (F.row_number().over(w) - 1).alias("rn"),
        F.count(F.lit(1))
        .over(
            Window.orderBy(F.lit(1)).rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("n"),
    )
    files = (
        rows.select(
            F.expr(f"CAST((rn * {_N_FILES}) DIV n AS BIGINT)").alias(
                "file_id"
            ),
            "k",
        )
        .groupBy("file_id")
        .agg(F.min("k").alias("lo"), F.max("k").alias("hi"))
    )
    a = files.select("file_id", "lo", "hi")
    b = files.select(
        F.col("lo").alias("blo"), F.col("hi").alias("bhi")
    )
    depth = (
        a.join(
            F.broadcast(b),
            (F.col("blo") <= F.col("hi")) & (F.col("bhi") >= F.col("lo")),
        )
        .groupBy("file_id")
        .agg(F.count(F.lit(1)).cast("long").alias("depth"))
    )
    return depth.agg(
        F.lit(tag).alias("layout"),
        F.count(F.lit(1)).cast("long").alias("n_files"),
        F.max("depth").cast("long").alias("max_depth"),
        F.expr("CAST(SUM(depth) * 1000000L DIV COUNT(*) AS BIGINT)").alias(
            "avg_depth_ppm"
        ),
    )


@register(
    "q_clustering_depth",
    "    WITH "
    + _layout_cte("arrival", "doc_id")
    + ","
    + _layout_cte("clustered", f"{_KEY_SQL}, doc_id")
    + """
    SELECT * FROM arrival_sum
    UNION ALL SELECT * FROM clustered_sum
    """,
    doc="file-clustering depth (the OPTIMIZE decision metric): per "
    "file, how many files' [min,max] key ranges overlap it — ingest-"
    "order files each span the whole md5 key domain (depth = n_files) "
    "while key-sorted files tile (depth -> 1-2); file min/max via one "
    "aggregate, depth via an n_files-row interval self-join",
)
def q_clustering_depth(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    arrival = _spark_layout(docs, [F.col("doc_id")], "arrival")
    key_order = [
        F.pmod(H.char_hash(F.col("text")), F.lit(10000)),
        F.col("doc_id"),
    ]
    clustered = _spark_layout(docs, key_order, "clustered")
    return arrival.unionByName(clustered)
