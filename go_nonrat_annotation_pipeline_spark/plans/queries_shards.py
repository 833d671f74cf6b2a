"""Training-shard shuffle query (operators/shards.py)."""

from __future__ import annotations

from go_nonrat_annotation_pipeline_spark.operators import shards as SH

from ..operators.sketches import sql_hash60
from ..sources.testdata import load_table
from .registry import register

_N_SHARDS = 8
_SALT = "epoch0"


@register(
    "q_shuffle_shards",
    f"""
    WITH h AS (
      SELECT doc_id,
             {sql_hash60(f"'{_SALT}|' || CAST(doc_id AS VARCHAR)")} AS hv
      FROM documents
    )
    SELECT doc_id, CAST(hv % {_N_SHARDS} AS BIGINT) AS shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY hv % {_N_SHARDS}
                                   ORDER BY hv, doc_id) AS BIGINT) AS pos
    FROM h
    """,
    doc="deterministic global shuffle into training shards: hash-salted "
    "shard + reproducible within-shard order — map-side assignment plus "
    "ONE hash-partitioned exchange with in-partition sort (the physical "
    "work of a sharded shuffled write, surfaced as an auditable "
    "(shard,pos) artifact; operators/shards.shard_assignments)",
)
def q_shuffle_shards(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return SH.shard_assignments(docs, "doc_id", _N_SHARDS, _SALT)
