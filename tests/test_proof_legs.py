"""The in-plan PROOF legs, run with BHPS_PROOF_LEGS=1.

VERDICT r11 ask #4 moved the expensive verification work — the
bloom-index full-rebuild bit-equality — off the driver/bench path (a
production run never rebuilds an index it maintains incrementally).
These tests are where those laws now live: each plan re-runs with the
proof flag up, and a violated law raises inside the plan, failing the
suite exactly as it used to fail the driver row.
"""
from __future__ import annotations

import pytest

from bow_hunter_pipeline_spark import legtime
from bow_hunter_pipeline_spark.plans import pipeline
from tests.conftest import SF_SMOKE


@pytest.fixture()
def proof_legs(monkeypatch):
    monkeypatch.setenv("BHPS_PROOF_LEGS", "1")
    assert legtime.proofs_enabled()
    yield
    # monkeypatch restores the env; confirm the default is OFF so
    # driver/bench runs keep the production shape
    monkeypatch.delenv("BHPS_PROOF_LEGS", raising=False)
    assert not legtime.proofs_enabled()


def test_incremental_bloom_full_rebuild_bit_equality(spark, proof_legs):
    """Incremental parts union == from-scratch full build (two-sided
    exceptAll) — asserted inside the plan when the proof flag is up."""
    rows = pipeline.tx_incremental_bloom_index(spark, SF_SMOKE).collect()
    assert rows


def test_proof_legs_default_off():
    """Driver/bench runs must execute the production shape."""
    assert not legtime.proofs_enabled()
