"""The measurement harness's table scalers (``scripts/measure.py``).

Every scaling curve reads tables built by ``SCALERS``. Built at 2x from
the sf0.001 fixture, each table must hold exactly twice the base rows,
keep its copies' ids disjoint, and keep copy 0 equal to the base table,
so the 1x point of every curve is the fixture itself.
"""

from __future__ import annotations

import os
import sys

import pytest

from hadoop_hive_analysis_spark.sources.catalog import load_table

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))
import measure  # noqa: E402


@pytest.mark.parametrize("table", sorted(measure.SCALERS))
def test_scaler_doubles_disjoint_copy0_is_base(spark, sf_dir, table):
    base = load_table(spark, sf_dir, table)
    scaled = measure.scaled_table(spark, sf_dir, table, 2)
    assert scaled.count() == 2 * base.count()
    for col in measure.SCALERS[table][0]:
        assert scaled.select(col).distinct().count() == 2 * base.select(col).distinct().count()
    key = measure.SCALERS[table][0][0]
    copy0 = scaled.filter(scaled[key] < measure.ID_OFFSET)
    assert copy0.exceptAll(base).count() == 0
    assert base.exceptAll(copy0).count() == 0
