from __future__ import annotations

import os
import sys

import pytest

# The checkout this file sits in: its package is the one imported here and
# by the Spark Python workers (which read PYTHONPATH, not sys.path).
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
              if p])

from geo_linked_open_data_kg_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cores=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
