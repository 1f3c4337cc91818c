"""Runs every registered query against its DuckDB oracle at sf0.001 —
the local mirror of the correctness gate the ``CORRECTNESS_*.json``
records come from.  Full-scale (sf0.01) runs:
``python3 tests/oracle_harness.py``.

Opt-in: the full oracle pass takes ~15 min, longer than the default
gate's time cap allows — an unfinishable gate protects nothing.  Run
with ``pytest -m oracle`` (see pyproject)."""

import pytest

from tests.oracle_harness import run

pytestmark = pytest.mark.oracle


def test_all_queries_match_oracle(sf_dir):
    assert run(sf_dir) == 0
