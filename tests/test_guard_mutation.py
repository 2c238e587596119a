"""The erasure accounting assert keeps its teeth: the NULL-safe-erase
revert mutant of ``delete_keys_bucketed`` (tools/guard_mutation.py) must
be killed by the ``erasure accounting mismatch`` abort."""

from __future__ import annotations

from tools.guard_mutation import mutant_b_nullsafe_revert


def test_nullsafe_erase_revert_mutant_is_killed(spark):
    r = mutant_b_nullsafe_revert(spark)
    assert r["sites_reverted"] == 1, r
    assert r["killed"], r
