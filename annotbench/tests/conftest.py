from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]


@pytest.fixture(scope="session")
def spark():
    from go_nonrat_annotation_pipeline_spark.session import get_spark

    return get_spark("annotbench-tests")
