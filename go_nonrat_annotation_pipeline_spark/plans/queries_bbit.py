"""b-bit minwise hashing.

Li & König (2010): storing only the lowest b bits of each MinHash
component shrinks the persisted dedup state ~16× (64-bit → 4-bit per
component here, b=4) at a quantifiable estimator cost — a b-bit
component MATCH happens with probability J + (1−J)/2^b, so the Jaccard
estimate is recoverable and, for the gate use case, the b-bit match
count upper-bounds the full match count. The query materializes both
match counts per verified near-dup pair plus the exact ppm Jaccard, so
the estimator error is hash-attested data, not a claim — the sizing
table for a 100 TB signature store where the store's byte width IS the
shuffle/merge cost.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions import hashing as H
from ..operators import dedup as D
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import PAIR_CTES as _PAIR_CTES

_B = 4
_MASK = (1 << _B) - 1
_K = len(H.MINHASH_COEFFS)


@register(
    "q_bbit_minhash_pairs",
    f"""
    WITH RECURSIVE {_PAIR_CTES}
    SELECT v.id_a, v.id_b,
           CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, {_K}),
                i -> LIST_EXTRACT(x.sig, i) = LIST_EXTRACT(y.sig, i)))
                AS BIGINT) AS m_full,
           CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, {_K}),
                i -> LIST_EXTRACT(x.sig, i) % {_MASK + 1}
                     = LIST_EXTRACT(y.sig, i) % {_MASK + 1}))
                AS BIGINT) AS m_bbit,
           CAST(FLOOR(v.j * 1000000) AS BIGINT) AS j_ppm
    FROM ver v
    JOIN docs x ON x.doc_id = v.id_a
    JOIN docs y ON y.doc_id = v.id_b
    WHERE v.j >= 0.7
    """,
    doc="b-bit minwise hashing (Li & König): per verified near-dup "
    "pair, full-width vs 4-bit MinHash component matches alongside "
    "exact Jaccard — the measured estimator cost of shrinking the "
    "signature store 16× (match prob = J + (1−J)/2^b); m_bbit ≥ "
    "m_full always, equality when no low-bit collision",
)
def q_bbit_minhash_pairs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.array_distinct(
            H.shingle_hashes(H.word_hashes(F.split(F.col("text"), " ")))
        ).alias("sh"),
    ).where(F.size("sh") > 0)
    sigs = sh.select(
        "doc_id", H.minhash_signature(F.col("sh")).alias("sig")
    )
    pairs = D.minhash_lsh_pairs(docs, "doc_id", "text", 3, 0.7)
    idx = F.sequence(F.lit(1), F.lit(_K))

    def matches(a, b, mask=None):
        if mask is None:
            eq = lambda i: F.element_at(a, i.cast("int")).eqNullSafe(  # noqa: E731
                F.element_at(b, i.cast("int"))
            )
        else:
            eq = lambda i: (  # noqa: E731
                F.element_at(a, i.cast("int")) % (mask + 1)
            ).eqNullSafe(F.element_at(b, i.cast("int")) % (mask + 1))
        return F.size(F.filter(idx, eq)).cast("long")

    xa = sigs.join(sh, "doc_id").select(
        F.col("doc_id").alias("id_a"),
        F.col("sig").alias("sig_a"),
        F.col("sh").alias("sh_a"),
    )
    xb = sigs.join(sh, "doc_id").select(
        F.col("doc_id").alias("id_b"),
        F.col("sig").alias("sig_b"),
        F.col("sh").alias("sh_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    # EXACT expression mirror of the oracle's v.j: divide FIRST, then
    # scale (the other association can differ in the last ulp and move
    # the floor at boundaries)
    j = inter.cast("double") / (
        F.size("sh_a") + F.size("sh_b") - inter
    )
    return (
        pairs.select("id_a", "id_b")
        .join(xa, "id_a")
        .join(xb, "id_b")
        .select(
            "id_a",
            "id_b",
            matches(F.col("sig_a"), F.col("sig_b")).alias("m_full"),
            matches(F.col("sig_a"), F.col("sig_b"), _MASK).alias(
                "m_bbit"
            ),
            F.floor(j * 1_000_000).cast("long").alias("j_ppm"),
        )
    )
