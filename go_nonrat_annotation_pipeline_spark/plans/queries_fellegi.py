"""Fellegi–Sunter record-linkage scoring queries (operators/fellegi.py).

The probabilistic half of the entity-resolution suite: the attested ER
funnel (queries_entity_e2e) links by a HARD edit-distance gate; FS
scores each candidate pair by per-field likelihood ratios and
three-way-classifies (match / possible / non-match) — the model behind
every production linkage engine (Splink, dedupe.io). Composition is
deliberate reuse: records are deduplicated (name, brand) listings with
survivorship-mode field values (operators/survivorship.pick_mode) —
the product-matching framing, where the same product listed by several
vendors is a genuine duplicate — candidates come from the attested
q-gram blocking (operators/retrieval.qgram_fuzzy_pairs), and only the
scoring model is new. Dictionary-sized end to end: the record table is the distinct-key
table, weights are one aggregate per field over it, scoring is a map
over blocked pairs with the one-row weight table cross-joined in.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..operators import fellegi as FS
from ..operators.retrieval import qgram_fuzzy_pairs
from ..operators.survivorship import pick_mode, sql_pick_mode_cte
from ..sources.testdata import load_table
from .registry import register

_MAXD = 4      # loose blocking radius — FS is the verdict, not the gate
_NAME_CLOSE = 1
_FIELDS = ["brand", "typ", "siz"]

# -- shared oracle CTEs: record table + blocked candidate pairs --
# A record is one (name, brand) LISTING — the same product listed by
# several vendors is the classic product-matching linkage problem, so
# same-name pairs are genuine match candidates (distinct-name records
# alone could never reach the match class). Type/size survive per
# listing by the attested mode rule.
_REC_CTES = (
    """
    fsq_keyed AS (
      SELECT p_name || '|' || p_brand AS rk, * FROM part
    ), fsq_names AS (
      SELECT rk, MIN(p_name) AS name, MIN(p_brand) AS brand,
             MIN(p_partkey) AS nid
      FROM fsq_keyed GROUP BY rk
    )"""
    + ","
    + sql_pick_mode_cte("fsq_type", "fsq_keyed", "rk", "p_type")
    + ","
    + sql_pick_mode_cte("fsq_size", "fsq_keyed", "rk", "p_size")
    + """,
    fsq_rec AS (
      SELECT n.nid, n.name, n.brand, t.p_type AS typ, s.p_size AS siz
      FROM fsq_names n
      JOIN fsq_type t ON t.rk = n.rk
      JOIN fsq_size s ON s.rk = n.rk
    )"""
)

_PAIR_CTES = (
    _REC_CTES
    + f""",
    fsq_grams AS (
      SELECT nid, name, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
          GENERATE_SERIES(1, LENGTH(name) - 2),
          i -> SUBSTR(name, i, 3)))) AS gram
      FROM fsq_rec WHERE LENGTH(name) >= 3
    ), fsq_hot AS (
      SELECT gram FROM (
        SELECT gram, COUNT(DISTINCT nid) AS n
        FROM fsq_grams GROUP BY gram)
      WHERE n > 256
    ), fsq_cold AS (
      SELECT * FROM fsq_grams
      WHERE gram NOT IN (SELECT gram FROM fsq_hot)
    ), fsq_cand AS (
      SELECT DISTINCT a.nid AS id_a, b.nid AS id_b
      FROM fsq_cold a JOIN fsq_cold b USING (gram)
      WHERE a.nid < b.nid
    ), fsq_pairs AS (
      SELECT c.id_a, c.id_b,
             levenshtein(ra.name, rb.name) AS dist,
             ra.brand AS brand_a, rb.brand AS brand_b,
             ra.typ AS typ_a, rb.typ AS typ_b,
             ra.siz AS siz_a, rb.siz AS siz_b
      FROM fsq_cand c
      JOIN fsq_rec ra ON ra.nid = c.id_a
      JOIN fsq_rec rb ON rb.nid = c.id_b
      WHERE levenshtein(ra.name, rb.name) <= {_MAXD}
    )"""
)


def _oracle_lr(col: str) -> tuple[str, str]:
    """DuckDB agree/disagree LR text for an equality field, u from the
    record table as a scalar subquery ('//' for DIV)."""
    u = FS.sql_u_ppm("fsq_rec", col)
    agree = (
        f"CAST((CAST({FS.DEFAULT_M_PPM} AS BIGINT) * {FS.PPM}) // "
        f"GREATEST({u}, 1) AS BIGINT)"
    )
    disagree = (
        f"CAST((CAST({FS.PPM - FS.DEFAULT_M_PPM} AS BIGINT) * {FS.PPM}) "
        f"// GREATEST({FS.PPM} - {u}, 1) AS BIGINT)"
    )
    return agree, disagree


def _oracle_sim_lr() -> tuple[str, str]:
    # prior-based ratios are constants — fold them in Python and emit
    # BIGINT literals (bare products overflow INT32 in both engines)
    u = FS.DEFAULT_SIM_U_PPM
    agree = f"CAST({FS.DEFAULT_M_PPM * FS.PPM // u} AS BIGINT)"
    disagree = (
        f"CAST({(FS.PPM - FS.DEFAULT_M_PPM) * FS.PPM // (FS.PPM - u)} "
        f"AS BIGINT)"
    )
    return agree, disagree


_GAMMAS_SQL = [
    (f"(dist <= {_NAME_CLOSE})",) + _oracle_sim_lr(),
    ("(brand_a = brand_b)",) + _oracle_lr("brand"),
    ("(typ_a = typ_b)",) + _oracle_lr("typ"),
    ("(siz_a = siz_b)",) + _oracle_lr("siz"),
]
_SCORE_SQL, _VERDICT_SQL = FS.sql_fs_score(_GAMMAS_SQL)


def _records(spark, sf_dir):
    part = load_table(spark, sf_dir, "part").withColumn(
        "rk", F.concat_ws("|", "p_name", "p_brand")
    )
    names = part.groupBy("rk").agg(
        F.min("p_name").alias("name"),
        F.min("p_brand").alias("brand"),
        F.min("p_partkey").alias("nid"),
    )
    rec = (
        names.join(pick_mode(part, "rk", "p_type"), "rk")
        .join(pick_mode(part, "rk", "p_size"), "rk")
        .select(
            "nid",
            "name",
            "brand",
            F.col("p_type").alias("typ"),
            F.col("p_size").alias("siz"),
        )
    )
    return rec


def _weight_row(rec):
    """One-row DF with per-field agree/disagree LR columns (equality
    fields data-driven; the name comparator at the declared prior)."""
    out = None
    for f in _FIELDS:
        agree, disagree = FS.lr_ppm_exprs("u_ppm")
        one = FS.u_ppm_equality(rec, f).select(
            F.expr(agree).alias(f"alr_{f}"),
            F.expr(disagree).alias(f"dlr_{f}"),
        )
        out = one if out is None else out.crossJoin(one)
    u = FS.DEFAULT_SIM_U_PPM
    return out.withColumns(
        {
            "alr_name": F.lit(
                FS.DEFAULT_M_PPM * FS.PPM // u
            ).cast("long"),
            "dlr_name": F.lit(
                (FS.PPM - FS.DEFAULT_M_PPM) * FS.PPM // (FS.PPM - u)
            ).cast("long"),
        }
    )


def _scored_pairs(spark, sf_dir, rec=None):
    # r13 optimization: callers that already materialized the records
    # table pass it in — the linkage E2E used to checkpoint _records
    # twice (once itself, once here), paying the pick_mode aggregates
    # and the group-by twice per build
    if rec is None:
        rec = _records(spark, sf_dir).localCheckpoint()
    pairs = qgram_fuzzy_pairs(rec, "nid", F.col("name"), max_dist=_MAXD)
    a = rec.select(
        F.col("nid").alias("id_a"),
        F.col("brand").alias("brand_a"),
        F.col("typ").alias("typ_a"),
        F.col("siz").alias("siz_a"),
    )
    b = rec.select(
        F.col("nid").alias("id_b"),
        F.col("brand").alias("brand_b"),
        F.col("typ").alias("typ_b"),
        F.col("siz").alias("siz_b"),
    )
    wide = (
        pairs.join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .crossJoin(F.broadcast(_weight_row(rec)))
        .withColumns(
            {
                "g_name": F.col("dist") <= _NAME_CLOSE,
                "g_brand": F.col("brand_a") == F.col("brand_b"),
                "g_type": F.col("typ_a") == F.col("typ_b"),
                "g_size": F.col("siz_a") == F.col("siz_b"),
            }
        )
    )
    return FS.fs_score(
        wide,
        [
            ("g_name", "alr_name", "dlr_name"),
            ("g_brand", "alr_brand", "dlr_brand"),
            ("g_type", "alr_typ", "dlr_typ"),
            ("g_size", "alr_siz", "dlr_siz"),
        ],
    )


@register(
    "q_fs_field_weights",
    "    WITH "
    + _REC_CTES
    + "".join(
        f""",
    fsq_w_{f} AS (
      SELECT '{f}' AS field, {FS.sql_u_ppm('fsq_rec', f)} AS u_ppm,
             CAST({FS.DEFAULT_M_PPM} AS BIGINT) AS m_ppm,
             {_oracle_lr(f)[0]} AS agree_lr_ppm,
             {_oracle_lr(f)[1]} AS disagree_lr_ppm
    )"""
        for f in _FIELDS
    )
    + """
    SELECT * FROM fsq_w_brand
    UNION ALL SELECT * FROM fsq_w_typ
    UNION ALL SELECT * FROM fsq_w_siz
    """,
    doc="Fellegi-Sunter per-field weights: data-driven u (probability "
    "two random records agree = sum c(c-1)/N(N-1), integer ppm) and "
    "the agree/disagree likelihood ratios at the declared m prior — "
    "one aggregate per field over the deduplicated record table "
    "(operators/fellegi.fs_weight_table)",
)
def q_fs_field_weights(spark, sf_dir):
    rec = _records(spark, sf_dir)
    return FS.fs_weight_table(rec, _FIELDS)


@register(
    "q_fs_match_scores",
    "    WITH "
    + _PAIR_CTES
    + f"""
    SELECT id_a, id_b,
           (dist <= {_NAME_CLOSE}) AS g_name,
           (brand_a = brand_b) AS g_brand,
           (typ_a = typ_b) AS g_type,
           (siz_a = siz_b) AS g_size,
           {_SCORE_SQL} AS score_ppm,
           {_VERDICT_SQL} AS verdict
    FROM fsq_pairs
    """,
    doc="Fellegi-Sunter pair scoring over q-gram-blocked candidates: "
    "per-field agreement gamma folds into a left-to-right ppm "
    "fixed-point likelihood product (rank-equivalent to the classic "
    "log-weight sum, integer-exact cross-engine), three-way verdict "
    "at declared thresholds (operators/fellegi.fs_score)",
)
def q_fs_match_scores(spark, sf_dir):
    return _scored_pairs(spark, sf_dir).select(
        "id_a",
        "id_b",
        "g_name",
        "g_brand",
        "g_type",
        "g_size",
        "score_ppm",
        "verdict",
    )


@register(
    "q_fs_verdict_report",
    "    WITH "
    + _PAIR_CTES
    + f""",
    fsq_scored AS (
      SELECT {_SCORE_SQL} AS score_ppm, {_VERDICT_SQL} AS verdict
      FROM fsq_pairs
    )
    SELECT verdict,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(score_ppm) AS BIGINT) AS min_score_ppm,
           CAST(MAX(score_ppm) AS BIGINT) AS max_score_ppm
    FROM fsq_scored GROUP BY verdict
    """,
    doc="Fellegi-Sunter clerical-review funnel: pair counts and score "
    "ranges per verdict class — the reviewer workload the thresholds "
    "buy (FS 1969's optimality: for given error bounds the possible "
    "band is minimal)",
)
def q_fs_verdict_report(spark, sf_dir):
    return (
        _scored_pairs(spark, sf_dir)
        .groupBy("verdict")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.min("score_ppm").cast("long").alias("min_score_ppm"),
            F.max("score_ppm").cast("long").alias("max_score_ppm"),
        )
    )
