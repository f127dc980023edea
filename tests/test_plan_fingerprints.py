"""The mechanical form of the rotation rule "changed plan ⇒ re-enter
the driver-checked prefix" (VERDICT r09, What's-missing #1).

tools/plan_fingerprints.py computes a STATIC TRANSITIVE SOURCE
FINGERPRINT per registry query (AST-normalized source of the plan
function plus every repo function/class/constant it transitively
references, plus the oracle SQL). The committed manifest records the
round each fingerprint last changed. These tests make the protocol
unable to fail silently:

* any refactor that changes a query's transitive plan source without a
  manifest update fails ``test_manifest_matches_live``;
* updating the manifest stamps the query with the CURRENT round, and
  ``test_changed_plans_hold_prefix_slots`` then fails until the query
  holds a slot in the first-50 driver prefix.

The walker is static and resolves direct references, module-attribute
references, and in-function imports; it intentionally hashes comments
away (``ast.unparse``). Known blind spots — functions dispatched
through data structures built at runtime — are the same blind spots a
human reviewer has, with the difference that every DIRECT helper
extraction or signature change (the r09 slip class: _prune_candidates,
_incremental_lsh_build, the simsearch store refactors) is caught.
"""
from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))

import plan_fingerprints as pf  # noqa: E402

from bow_hunter_pipeline_spark import registry  # noqa: E402


def _live():
    return pf.compute_fingerprints()


def test_manifest_matches_live():
    manifest = pf.load_manifest()
    d = pf.diff(manifest, _live())
    assert not d, (
        f"plan fingerprints drifted without a manifest update: {sorted(d)}. "
        "Run `python tools/plan_fingerprints.py --update`, re-verify each "
        "listed query with tools/verify_driver.py AND "
        "tools/audit_oracle_types.py, and give it a prefix slot."
    )


def test_manifest_covers_registry():
    manifest = pf.load_manifest()
    assert set(manifest["queries"]) == set(registry._REGISTRY), (
        "manifest and registry diverged — run "
        "`python tools/plan_fingerprints.py --update`"
    )


def test_changed_plans_hold_prefix_slots():
    """Every query whose plan changed THIS round must be inside the
    driver's checked prefix (the first 50 of the export order)."""
    manifest = pf.load_manifest()
    prefix = set(list(registry.queries())[:50])
    changed_this_round = sorted(
        n
        for n, e in manifest["queries"].items()
        if e["round"] >= registry.ROUND
    )
    outside = [n for n in changed_this_round if n not in prefix]
    assert not outside, (
        f"queries with round-{registry.ROUND} plan changes lack prefix "
        f"slots: {outside}. Add them to _DRIVER_ROTATION's head (and "
        "NEW_IN_PREFIX if new) — a changed plan invalidates its old "
        "driver proof."
    )


def test_manifest_round_not_stale():
    """--update must run with the registry's CURRENT round (guards a
    round rollover that forgets to bump registry.ROUND)."""
    manifest = pf.load_manifest()
    assert manifest["round"] == registry.ROUND


def test_manifest_matches_live_after_memos_warm(spark):
    """The guard is order-independent: running a MinHash (h1) and an
    IVF (h2) query in-process fills the two expression memos, and the
    live fingerprints must still equal the manifest."""
    from bow_hunter_pipeline_spark.plans import dedup, simsearch
    from tests.conftest import SF_SMOKE

    qs = registry.queries()
    for name in ("h1_minhash_lsh_pairs", "h2_ivf_topk"):
        qs[name](spark, SF_SMOKE).collect()
    assert dedup._MINHASH_EXPRS.exprs and simsearch._CELL_EXPR_CACHE.exprs
    assert not pf.diff(pf.load_manifest(), _live())
