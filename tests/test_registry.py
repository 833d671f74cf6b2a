"""The query registry: every registered name appears once, in a stable
registration order, and a second registration under a taken name
fails instead of shadowing the first."""

from __future__ import annotations

import pytest

from go_nonrat_annotation_pipeline_spark.plans import registry as R


def test_all_queries_is_every_name_once_in_stable_order():
    first = R.all_queries()
    second = R.all_queries()
    assert len(first) == 347
    assert list(first) == list(R._REGISTRY)
    assert list(second) == list(first)
    assert all(first[n] is second[n] for n in first)


def test_duplicate_name_is_rejected():
    name = next(iter(R.all_queries()))
    before = R._REGISTRY[name]
    with pytest.raises(ValueError, match=name):
        R.register(name, None)(lambda spark, sf_dir: None)
    assert R._REGISTRY[name] is before
