"""Opt-in heavyweight parity sweep at sf0.1 (10x the driver's gate).

Run with: SF01_PARITY=1 python -m pytest tests/test_parity_sf01.py -q
(~9 min; caught a real band-grouping bug the sf0.01 gate missed — keep
running it before shipping oracle changes)."""

from __future__ import annotations

import os

import pytest

from tests.conftest import catalog, register_duck_views

CATALOG = catalog()
SF01 = "/root/testdata/sf0.1"

pytestmark = pytest.mark.skipif(
    not os.environ.get("SF01_PARITY"), reason="set SF01_PARITY=1 to run the sf0.1 sweep"
)


@pytest.mark.parametrize("name", sorted(n for n, s in CATALOG.items() if s.oracle))
def test_sf01_parity(spark, duck, name):
    from tests.test_oracle_parity import assert_frames_match

    register_duck_views(duck, SF01)
    spec = CATALOG[name]
    assert_frames_match(spec.fn(spark, SF01).toPandas(), duck.execute(spec.oracle).df(), name)
