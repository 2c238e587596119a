"""The @register duplicate-name guard (ADVICE r10: compare module AND
qualname — a same-named function in a DIFFERENT module is exactly the
copy-pasted-lane shape the guard exists for)."""

from __future__ import annotations

import pytest

from shortvideohybridanalyticslakehouse_spark.plans import registry


@pytest.fixture
def scratch_name():
    name = "_guard_test_lane"
    registry.REGISTRY.pop(name, None)
    yield name
    registry.REGISTRY.pop(name, None)


def _make(module: str, qualname: str):
    def fn(spark, sf_dir):  # pragma: no cover - never executed
        raise AssertionError

    fn.__module__ = module
    fn.__qualname__ = qualname
    return fn


def test_same_function_reregister_is_idempotent(scratch_name):
    fn = _make("mod_a", "q_lane")
    registry.register(scratch_name, None)(fn)
    registry.register(scratch_name, "SELECT 1")(fn)  # re-import shape
    # register() wraps every builder in the release_scope shim,
    # so compare through __wrapped__ — the registered callable must
    # still be THIS function, and the re-registration must have won.
    got_fn, got_oracle = registry.REGISTRY[scratch_name]
    assert got_fn.__wrapped__ is fn
    assert got_oracle == "SELECT 1"


def test_same_qualname_different_module_raises(scratch_name):
    registry.register(scratch_name, None)(_make("mod_a", "q_lane"))
    with pytest.raises(ValueError, match="duplicate query name"):
        registry.register(scratch_name, None)(_make("mod_b", "q_lane"))


def test_different_qualname_same_module_raises(scratch_name):
    registry.register(scratch_name, None)(_make("mod_a", "q_lane"))
    with pytest.raises(ValueError, match="duplicate query name"):
        registry.register(scratch_name, None)(_make("mod_a", "q_other"))
