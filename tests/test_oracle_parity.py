"""Every registered query must hash-match its DuckDB oracle at sf0.001.

This is the same differential strategy the driver applies at sf0.01
(SURVEY.md §5 item 1), run small for fast local iteration.
"""

from __future__ import annotations

import pytest

from mapreducelearnings_spark.queries import REGISTRY

from .conftest import assert_matches_oracle

ORACLED = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


@pytest.mark.parametrize("name", ORACLED)
def test_query_matches_oracle(name, spark, duck, sf_dir):
    spec = REGISTRY[name]
    assert_matches_oracle(spec.spark(spark, sf_dir), duck, spec.oracle)


def test_no_rows_only_queries():
    """Every registered query carries a full DuckDB oracle — the driver
    records zero weaker rows-only checks. If a future query genuinely
    can't be SQL-expressed, register it with oracle=None and add a
    rows-only runs-check here."""
    assert ROWS_ONLY == []
