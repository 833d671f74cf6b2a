"""Product-quantization ANN queries (operators/pq.py).

Oracles: the full PQ pipeline unrolls in DuckDB — one kmeans CTE chain
per subvector slice (same Lloyd's mirror as queries_similarity's
_KM_ORACLE: deterministic md5 seed, argmax ties on lower code id,
empty cells carry forward, per-dim mean then renormalize), then
map-side encode (argmax per slice) and ADC scoring as the sum of
per-subspace cosines between the query slice and the assigned
codeword. `sim_pq_rerank` adds the production second stage: exact
cosine re-rank of the ADC shortlist. Spark runs exactly the same
update count (early_stop=False).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import pq as PQ
from ..sources.testdata import load_table
from .registry import register
from .shared_sql import cos_sql as _cos_sql, train_ctes as _train_ctes


def _encode_cte(p: str, iters: int) -> str:
    """Nearest-centroid assignment of {p}pts against {p}c{iters}."""
    return f"""
    , {p}code AS (
      SELECT _id, cell AS code FROM (
        SELECT x._id, t.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY x._id
                                  ORDER BY t.cos DESC, t.cent_id) AS rn
        FROM {p}pts x, LATERAL (
          SELECT cent_id, {_cos_sql('x.v', 'cv')} AS cos
          FROM {p}c{iters}) t)
      WHERE rn = 1
    )"""


def _subspace_ctes(s: int, sub_dim: int, k_codes: int, iters: int) -> str:
    """Sliced points + seed + unrolled training + encode for slice s."""
    p = f"s{s}"
    return _train_ctes(
        p, k_codes, iters, s * sub_dim + 1, (s + 1) * sub_dim
    ) + _encode_cte(p, iters)


def _adc_ctes(
    m_sub: int, sub_dim: int, k_codes: int, iters: int, n_queries: int
) -> str:
    """Shared oracle prefix: train + encode every subspace, then the
    per-(query, neighbor) ADC score as the sum of subspace cosines."""
    joins = [f"JOIN s0code n0 ON n0._id <> q.vec_id"]
    for s in range(1, m_sub):
        joins.append(f"JOIN s{s}code n{s} ON n{s}._id = n0._id")
    for s in range(m_sub):
        joins.append(f"JOIN s{s}c{iters} b{s} ON b{s}.cent_id = n{s}.code")
    terms = " + ".join(
        "("
        + _cos_sql(
            f"LIST_SLICE(q.v, {s * sub_dim + 1}, {(s + 1) * sub_dim})",
            f"b{s}.cv",
        )
        + ")"
        for s in range(m_sub)
    )
    return (
        """
    WITH e AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )"""
        + "".join(
            _subspace_ctes(s, sub_dim, k_codes, iters) for s in range(m_sub)
        )
        + f"""
    , scored AS (
      SELECT q.vec_id AS query_id, n0._id AS neighbor_id,
             ROUND({terms}, 6) AS adc_score
      FROM (SELECT * FROM e WHERE vec_id < {n_queries}) q
      {' '.join(joins)}
    )"""
    )


# ---------------------------------------------------------------------------
# sim_pq_adc: the pure compressed-domain ranking (m=2 × 8 codes) — the
# cheapest config that attests the LUT math end to end.
# ---------------------------------------------------------------------------
_ADC = dict(m_sub=2, sub_dim=32, k_codes=8, iters=3, n_q=5, k=5)

_PQ_ADC_ORACLE = (
    _adc_ctes(_ADC["m_sub"], _ADC["sub_dim"], _ADC["k_codes"], _ADC["iters"], _ADC["n_q"])
    + f"""
    SELECT query_id, neighbor_id, adc_score, rank FROM (
      SELECT query_id, neighbor_id, adc_score,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY adc_score DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= {_ADC["k"]}
    """
)


@register(
    "sim_pq_adc",
    _PQ_ADC_ORACLE,
    doc="PQ ANN: per-slice spherical codebooks (kmeans_fit), map-side "
    "argmax encode, ADC top-k via per-query LUT literals + "
    "TakeOrderedAndProject — the compressed-domain scale path "
    "(operators/pq.py)",
)
def sim_pq_adc(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = PQ.pq_train(
        emb,
        dim=_ADC["m_sub"] * _ADC["sub_dim"],
        m_sub=_ADC["m_sub"],
        k_codes=_ADC["k_codes"],
        n_iter=_ADC["iters"],
        early_stop=False,
    )
    codes = PQ.pq_encode(emb, books, dim=_ADC["m_sub"] * _ADC["sub_dim"])
    qrows = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < _ADC["n_q"]).collect()
    ]
    return PQ.pq_adc_topk(codes, sorted(qrows), books, k=_ADC["k"])


# ---------------------------------------------------------------------------
# sim_pq_rerank: the production pipeline — ADC shortlist over codes,
# exact cosine re-rank of the Q×shortlist candidates only.
# ---------------------------------------------------------------------------
_RR = dict(m_sub=4, sub_dim=16, k_codes=8, iters=2, n_q=5, short=50, k=5)

_PQ_RERANK_ORACLE = (
    _adc_ctes(_RR["m_sub"], _RR["sub_dim"], _RR["k_codes"], _RR["iters"], _RR["n_q"])
    + f"""
    , short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_score DESC, neighbor_id) AS rn
        FROM scored)
      WHERE rn <= {_RR["short"]}
    ), rescored AS (
      SELECT s.query_id, s.neighbor_id,
             ROUND({_cos_sql('q.v', 'n.v')}, 6) AS cosine
      FROM short s
      JOIN e q ON q.vec_id = s.query_id
      JOIN e n ON n.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rescored)
    WHERE rank <= {_RR["k"]}
    """
)


@register(
    "sim_pq_rerank",
    _PQ_RERANK_ORACLE,
    doc="PQ ANN production shape: ADC shortlist over compressed codes, "
    "exact cosine re-rank touching only Q×shortlist raw vectors "
    "(operators/pq.pq_rerank_topk)",
)
def sim_pq_rerank(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = PQ.pq_train(
        emb,
        dim=_RR["m_sub"] * _RR["sub_dim"],
        m_sub=_RR["m_sub"],
        k_codes=_RR["k_codes"],
        n_iter=_RR["iters"],
        early_stop=False,
    )
    codes = PQ.pq_encode(emb, books, dim=_RR["m_sub"] * _RR["sub_dim"])
    qrows = sorted(
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < _RR["n_q"]).collect()
    )
    return PQ.pq_rerank_topk(
        codes, emb, qrows, books, shortlist=_RR["short"], k=_RR["k"]
    )


# ---------------------------------------------------------------------------
# sim_ivf_pq: the full FAISS-style composition — coarse IVF cells gate
# WHICH rows are ADC-scored, PQ codes decide HOW cheaply, exact cosine
# re-ranks the shortlist. Oracle = coarse kmeans chain (prefix g) +
# assignment + two subspace chains + probe/ADC/re-rank CTEs.
# ---------------------------------------------------------------------------
_IP = dict(
    g_cells=8, g_iters=2,      # coarse quantizer
    m_sub=2, sub_dim=32, k_codes=8, iters=2,   # PQ codebooks
    n_q=5, n_probe=2, short=20, k=5,
)

_IVFPQ_ORACLE = (
    """
    WITH e AS (
      SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings
    )"""
    + _train_ctes("g", _IP["g_cells"], _IP["g_iters"])
    + _encode_cte("g", _IP["g_iters"])
    + "".join(
        _subspace_ctes(s, _IP["sub_dim"], _IP["k_codes"], _IP["iters"])
        for s in range(_IP["m_sub"])
    )
    + f"""
    , probes AS (
      SELECT query_id, vq, cell FROM (
        SELECT q.vec_id AS query_id, q.v AS vq, t.cent_id AS cell,
               ROW_NUMBER() OVER (PARTITION BY q.vec_id
                                  ORDER BY t.cos DESC, t.cent_id) AS rn
        FROM (SELECT * FROM e WHERE vec_id < {_IP["n_q"]}) q, LATERAL (
          SELECT cent_id, {_cos_sql('q.v', 'cv')} AS cos
          FROM gc{_IP["g_iters"]}) t)
      WHERE rn <= {_IP["n_probe"]}
    ), adc AS (
      SELECT p.query_id, g._id AS neighbor_id,
             ROUND(
               ({_cos_sql(f'LIST_SLICE(p.vq, 1, {_IP["sub_dim"]})', 'b0.cv')})
             + ({_cos_sql(f'LIST_SLICE(p.vq, {_IP["sub_dim"] + 1}, {2 * _IP["sub_dim"]})', 'b1.cv')}),
             6) AS adc_score
      FROM probes p
      JOIN gcode g ON g.code = p.cell AND g._id <> p.query_id
      JOIN s0code n0 ON n0._id = g._id
      JOIN s1code n1 ON n1._id = g._id
      JOIN s0c{_IP["iters"]} b0 ON b0.cent_id = n0.code
      JOIN s1c{_IP["iters"]} b1 ON b1.cent_id = n1.code
    ), short AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_score DESC, neighbor_id) AS rn
        FROM adc)
      WHERE rn <= {_IP["short"]}
    ), rescored AS (
      SELECT s.query_id, s.neighbor_id,
             ROUND({_cos_sql('q.v', 'n.v')}, 6) AS cosine
      FROM short s
      JOIN e q ON q.vec_id = s.query_id
      JOIN e n ON n.vec_id = s.neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT query_id, neighbor_id, cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rescored)
    WHERE rank <= {_IP["k"]}
    """
)


@register(
    "sim_ivf_pq",
    _IVFPQ_ORACLE,
    doc="IVF-PQ ANN: coarse-cell pruning + compressed-domain ADC + exact "
    "re-rank in one map-side-indexed scan (operators/pq.ivf_pq_topk) — "
    "the FAISS-style production composition",
)
def sim_ivf_pq(spark, sf_dir):
    from ..operators.kmeans import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    coarse = kmeans_fit(
        emb, k=_IP["g_cells"], max_iter=_IP["g_iters"], early_stop=False
    )
    coarse_cents = sorted(
        (int(r.cent_id), [float(x) for x in r.cv]) for r in coarse.collect()
    )
    books = PQ.pq_train(
        emb,
        dim=_IP["m_sub"] * _IP["sub_dim"],
        m_sub=_IP["m_sub"],
        k_codes=_IP["k_codes"],
        n_iter=_IP["iters"],
        early_stop=False,
    )
    qrows = sorted(
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < _IP["n_q"]).collect()
    )
    return PQ.ivf_pq_topk(
        emb,
        qrows,
        coarse_cents,
        books,
        n_probe=_IP["n_probe"],
        shortlist=_IP["short"],
        k=_IP["k"],
    )


@register(
    "sim_pq_adc_kernel",
    _PQ_ADC_ORACLE,
    doc="PQ ANN with the Arrow matmul encode kernel "
    "(pq_encode assign_kernel=True) — SAME oracle as sim_pq_adc: the "
    "kernel twin pattern (sim_ivf_trained_kernel, "
    "dedup_embedding_bucketed_kernel) attesting the scale setting "
    "produces bit-identical codes",
)
def sim_pq_adc_kernel(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = PQ.pq_train(
        emb,
        dim=_ADC["m_sub"] * _ADC["sub_dim"],
        m_sub=_ADC["m_sub"],
        k_codes=_ADC["k_codes"],
        n_iter=_ADC["iters"],
        early_stop=False,
    )
    codes = PQ.pq_encode(
        emb, books, dim=_ADC["m_sub"] * _ADC["sub_dim"], assign_kernel=True
    )
    qrows = [
        (int(r.vec_id), [float(x) for x in r.embedding])
        for r in emb.where(F.col("vec_id") < _ADC["n_q"]).collect()
    ]
    return PQ.pq_adc_topk(codes, sorted(qrows), books, k=_ADC["k"])
