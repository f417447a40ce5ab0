"""The slow tier's environment switch (`tests/slow_tier.py`)."""

from __future__ import annotations

import pytest

from tests.slow_tier import run_slow_from_env


@pytest.mark.parametrize("value", ["1", "true", "TRUE", "yes", " Yes "])
def test_run_slow_env_enables(value):
    assert run_slow_from_env(value)


@pytest.mark.parametrize("value", [None, "", "0", "false", "no", "off", "2"])
def test_run_slow_env_keeps_slow_tier_skipped(value):
    assert not run_slow_from_env(value)
