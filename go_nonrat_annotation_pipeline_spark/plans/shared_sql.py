"""Shared DuckDB-oracle SQL fragments used by more than one plans module.

This module registers nothing and never imports `registry`: a
cross-module constant import that drags a whole registering module in
early would reorder registration, so shared fragments live here and
registration order stays under registry.py's control.
"""

from __future__ import annotations

from ..functions import hashing as H
from ..operators import dedup as D

WORDS = "STRING_SPLIT(text, ' ')"

# word-shingle hash list over `documents.text` (3-shingles by default)
SH = H.sql_shingle_hashes(H.sql_word_hashes(WORDS))

# 2-shingles for the n-gram Jaccard query
SH2 = H.sql_shingle_hashes(H.sql_word_hashes(WORDS), 2)

# shared CTE body producing verified near-dup pairs (reused by the
# pair query, the connected-components clustering queries, and — via
# the parametrized form — the corpus-curation E2E, which runs the pair
# stage over an intermediate CTE instead of the raw documents table)
def pair_ctes(src: str = "documents") -> str:
    """Verified near-dup pair CTEs over ``src`` (needs doc_id, text);
    defines shd/docs/bands/cand/ver — avoid those CTE names around it."""
    return f"""
    shd AS (
      SELECT doc_id, LIST_DISTINCT({SH}) AS sh FROM {src}
    ), docs AS (
      SELECT doc_id, sh, {H.sql_minhash_signature('sh')} AS sig
      FROM shd WHERE LEN(sh) > 0
    ), bands AS (
      SELECT doc_id, b,
             LIST_EXTRACT(sig, 2 * b + 1) AS h0,
             LIST_EXTRACT(sig, 2 * b + 2) AS h1
      FROM docs, UNNEST(GENERATE_SERIES(0, {D.N_BANDS - 1})) AS t(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
      FROM bands a JOIN bands c
        ON a.b = c.b AND a.h0 = c.h0 AND a.h1 = c.h1 AND a.doc_id < c.doc_id
    ), ver AS (
      SELECT id_a, id_b,
             CAST(LEN(LIST_FILTER(x.sh, s -> LIST_CONTAINS(y.sh, s))) AS DOUBLE)
               / (LEN(x.sh) + LEN(y.sh) - LEN(LIST_FILTER(x.sh, s -> LIST_CONTAINS(y.sh, s)))) AS j
      FROM cand JOIN docs x ON x.doc_id = cand.id_a JOIN docs y ON y.doc_id = cand.id_b
    )"""


PAIR_CTES = pair_ctes()


def sql_simhash(bits: int = 32) -> str:
    """DuckDB SimHash over a word-hash list column `wh`, bit-identical
    to operators/dedup.simhash (majority vote per bit, +pw on tie-free
    positive sums only)."""
    parts = []
    for b in range(bits):
        pw = 1 << b
        bit_sum = (
            f"LIST_REDUCE(LIST_CONCAT([CAST(0 AS BIGINT)], wh), "
            f"(acc, h) -> acc + 2 * ((h // {pw}) % 2) - 1)"
        )
        parts.append(f"CASE WHEN {bit_sum} > 0 THEN CAST({pw} AS BIGINT) ELSE 0 END")
    return " + ".join(parts)


# DuckDB cosine between q.v and c.v — sequential fold in index order,
# init 0.0, so the arithmetic is bit-identical to Spark's F.aggregate.
COS = """
  LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
      LIST_TRANSFORM(GENERATE_SERIES(1, LEN(q.v)),
                     i -> LIST_EXTRACT(q.v, i) * LIST_EXTRACT(c.v, i))),
      (acc, x) -> acc + x)
  / (SQRT(LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
         LIST_TRANSFORM(q.v, x -> x * x)), (acc, x) -> acc + x))
   * SQRT(LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
         LIST_TRANSFORM(c.v, x -> x * x)), (acc, x) -> acc + x)))
"""


def cos_sql(a: str, b: str) -> str:
    """General DuckDB cosine(a, b) mirroring operators/dedup.cosine."""
    return f"""
      LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
          LIST_TRANSFORM(GENERATE_SERIES(1, LEN({a})),
                         i -> LIST_EXTRACT({a}, i) * LIST_EXTRACT({b}, i))),
          (acc, x) -> acc + x)
      / (SQRT(LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
             LIST_TRANSFORM({a}, x -> x * x)), (acc, x) -> acc + x))
       * SQRT(LIST_REDUCE(LIST_CONCAT([CAST(0 AS DOUBLE)],
             LIST_TRANSFORM({b}, x -> x * x)), (acc, x) -> acc + x)))
    """


def km_chain(p: str, i: int) -> str:
    """One Lloyd's step for subspace/run prefix ``p`` (CTEs {p}a{i} /
    {p}m{i}/{p}c{i} against points CTE {p}pts) — the queries_similarity
    _km_iteration shape, parametrized so independent chains coexist in
    one statement. Mirrors operators/kmeans.kmeans_fit exactly: argmax
    ties break on lower cent_id, per-dim mean then renormalize, empty
    cells carry the previous centroid forward."""
    return f"""
    , {p}a{i} AS (
      SELECT _id, v, cell FROM (
        SELECT x._id, x.v, t.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY x._id
                                  ORDER BY t.cos DESC, t.cent_id) AS rn
        FROM {p}pts x, LATERAL (
          SELECT cent_id, {cos_sql('x.v', 'cv')} AS cos FROM {p}c{i - 1}) t)
      WHERE rn = 1
    ), {p}m{i} AS (
      SELECT cell AS cent_id, LIST(m ORDER BY d) AS mean FROM (
        SELECT cell, d, SUM(x) / COUNT(*) AS m FROM (
          SELECT cell, UNNEST(GENERATE_SERIES(1, LEN(v))) AS d,
                 UNNEST(v) AS x
          FROM {p}a{i})
        GROUP BY cell, d)
      GROUP BY cell
    ), {p}c{i} AS (
      SELECT cent_id,
             LIST_TRANSFORM(mean, x -> x / SQRT(LIST_REDUCE(
                 LIST_CONCAT([CAST(0 AS DOUBLE)],
                             LIST_TRANSFORM(mean, y -> y * y)),
                 (acc, y) -> acc + y))) AS cv
      FROM {p}m{i}
      UNION ALL
      SELECT cent_id, cv FROM {p}c{i - 1}
      WHERE cent_id NOT IN (SELECT cent_id FROM {p}m{i})
    )"""


def train_ctes(
    p: str,
    k_codes: int,
    iters: int,
    lo: int | None = None,
    hi: int | None = None,
    src: str = "e",
) -> str:
    """Points (full vector, or slice [lo, hi], from the CTE named
    ``src`` — default `e` — with columns vec_id/v) + md5 seed +
    unrolled kmeans training chain for prefix ``p``; final centroids
    land in {p}c{iters}. Shared by the PQ family (per-subspace
    codebooks), semantic dedup (one full-vector chain), and the
    hot-cell re-split (a second chain over one cell's members)."""
    vexpr = "v" if lo is None else f"LIST_SLICE(v, {lo}, {hi})"
    head = f"""
    , {p}pts AS (
      SELECT vec_id AS _id, {vexpr} AS v FROM {src}
    ), {p}c0 AS (
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY MD5(CAST(_id AS VARCHAR)), _id) - 1
                  AS INT) AS cent_id,
             v AS cv
      FROM {p}pts
      QUALIFY ROW_NUMBER() OVER (ORDER BY MD5(CAST(_id AS VARCHAR)), _id) <= {k_codes}
    )"""
    return head + "".join(km_chain(p, i) for i in range(1, iters + 1))
