"""Temperature-mixture sampling queries (operators/mixture.py).

τ=2 temperature data mixing with data-derived per-source rates (vs the
hard-coded policy rates of q_mixture_weighted). All fixed-point BIGINT:
the only non-integer step is floor(sqrt(int)), identical across engines
because IEEE sqrt is correctly rounded.
"""

from __future__ import annotations

from ..operators import mixture as MX
from ..operators.sketches import sql_hash60
from ..sources.testdata import load_table
from .registry import register

_TARGET_PPM = MX.PPM // 2
_SALT = "mix0"

# parametrized in operators/mixture.sql_rates_ctes so the layout E2E
# can derive rates over its quality-selected intermediate
_RATES_CTES = MX.sql_rates_ctes("documents", _TARGET_PPM)


@register(
    "q_mixture_temperature",
    "    WITH " + _RATES_CTES + """
    SELECT source, n_docs, w_sqrt, p_ppm, keep_ppm FROM rates
    """,
    doc="τ=2 temperature mixture rate table: per-source corpus share "
    "flattened by sqrt, normalized to fixed-point ppm, realized as a "
    "clamped Bernoulli gate rate against the source's actual size "
    "(operators/mixture.temperature_rates; Conneau & Lample 2019 "
    "multilingual sampling) — one k-row aggregate + k-row window",
)
def q_mixture_temperature(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return MX.temperature_rates(docs, _TARGET_PPM)


@register(
    "q_mixture_temperature_sample",
    "    WITH " + _RATES_CTES + f"""
    SELECT d.doc_id, d.source
    FROM documents d JOIN rates USING (source)
    WHERE {sql_hash60(f"'{_SALT}|' || CAST(doc_id AS VARCHAR)")}
          % {MX.PPM} < keep_ppm
    """,
    doc="the realized temperature mixture: deterministic md5 gate under "
    "the broadcast k-row rate table — map-side filter, replayable per "
    "salt (operators/mixture.temperature_sample)",
)
def q_mixture_temperature_sample(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    return MX.temperature_sample(docs, _TARGET_PPM, salt=_SALT)
