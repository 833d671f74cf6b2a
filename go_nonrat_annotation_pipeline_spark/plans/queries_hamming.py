"""Hamming-radius near-dup queries (operators/hamming.py).

Three views of the same guaranteed-recall compound-key banding
(Manku et al. WWW'07): text near-dup over a 60-bit SimHash, multimodal
near-dup over the binary media column's perceptual-hash stand-in, and
cluster rollup of the resulting pair graph.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import hamming as HM
from ..operators.multimodal import to_binary_docs
from ..sources.testdata import load_table
from .registry import register

_BLOCKS = 6
_KEYB = 2
_MAXD = 4

_PAIRS_SQL = HM.sql_hamming_pairs("doc_id", HM.BITS, _BLOCKS, _KEYB, _MAXD)


@register(
    "dedup_simhash_hamming",
    f"""
    WITH {HM.sql_simhash60_ctes("documents", "doc_id", "text")}
    {_PAIRS_SQL}
    """,
    doc="dedup: 60-bit SimHash near-dup pairs within Hamming distance "
    f"{_MAXD} via guaranteed-recall compound-key banding "
    f"(C({_BLOCKS},{_KEYB})=15 20-bit keys; pigeonhole: d ≤ blocks - "
    "key_blocks ⇒ one intact key) — candidates are an equi-join, "
    "verification one bit_count(xor) per candidate, never all-pairs "
    "(operators/hamming.hamming_band_pairs)",
)
def dedup_simhash_hamming(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sigs = HM.simhash60(docs, "doc_id", "text")
    return HM.hamming_band_pairs(
        sigs, "doc_id", "sig", HM.BITS, _BLOCKS, _KEYB, _MAXD
    )


@register(
    "mm_phash_neardup",
    f"""
    WITH media AS (
      SELECT doc_id, ENCODE(text) AS media FROM documents
    ),
    {HM.sql_simhash60_ctes("media", "doc_id", "DECODE(media)")}
    {_PAIRS_SQL}
    """,
    doc="multimodal: near-dup media pairs within Hamming distance "
    f"{_MAXD} of a 60-bit perceptual-hash stand-in computed from the "
    "binary payload (a real deployment swaps in a DCT pHash inside the "
    "decode kernel, operators/multimodal; the banded join is "
    "signature-agnostic) — operators/hamming.phash60",
)
def mm_phash_neardup(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    media = to_binary_docs(docs)
    sigs = HM.phash60(media, "doc_id", "media")
    return HM.hamming_band_pairs(
        sigs, "doc_id", "sig", HM.BITS, _BLOCKS, _KEYB, _MAXD
    )


@register(
    "q_hamming_cluster_sizes",
    f"""
    WITH RECURSIVE {HM.sql_simhash60_ctes("documents", "doc_id", "text")},
    pairs AS ({_PAIRS_SQL}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION
      SELECT id_b AS u, id_a AS v FROM pairs
    ),
    reach AS (
      SELECT u AS node, u AS member FROM (SELECT DISTINCT u FROM edges)
      UNION
      SELECT r.node, e.v FROM reach r JOIN edges e ON e.u = r.member
    ),
    cc AS (
      SELECT node AS doc_id, MIN(member) AS cluster_id
      FROM reach GROUP BY node
    )
    SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM cc GROUP BY cluster_id
    """,
    doc="dedup: near-dup cluster sizes from the Hamming pair graph "
    "(alternating-star connected components over the pair graph only — "
    "operators/dedup.connected_components_star; same oracle recursion "
    "as dedup_clusters)",
)
def q_hamming_cluster_sizes(spark, sf_dir):
    from ..operators import dedup as D

    docs = load_table(spark, sf_dir, "documents")
    sigs = HM.simhash60(docs, "doc_id", "text")
    pairs = HM.hamming_band_pairs(
        sigs, "doc_id", "sig", HM.BITS, _BLOCKS, _KEYB, _MAXD
    )
    cc = D.connected_components_star(pairs)
    return cc.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("n_docs"))
