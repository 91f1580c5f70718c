"""The launch tests of ``test_mapreduce.py`` and
``test_mapreduce_properties.py``, re-run on the Spark path.

Small test payloads sit under the default in-driver gate, so those modules
exercise the driver executor. Here the ``in_driver_max_chars`` fixture is 0,
so the same test functions run every launch as a Spark job. They are
collected again under this module's name, which keeps the original test ids
unchanged.
"""

from __future__ import annotations

import pytest

from tests.test_mapreduce import (  # noqa: F401  (collected here again)
    engine,
    test_async_launch_error_surfaces,
    test_async_launch_observable_lifecycle,
    test_charcount_golden,
    test_combiner_results_identical_to_plain,
    test_empty_map_never_calls_reduce,
    test_empty_map_short_circuit,
    test_failed_job_contract,
    test_failed_reduce_unpersists_cached_rdd,
    test_finished_launch_persists_no_rdd,
    test_gateway_end_to_end_wordcount,
    test_get_result_errors,
    test_identity_ordering_contract,
    test_partition_counts_beyond_data_match_single_reducer,
    test_result_ttl_gc,
    test_single_reducer_matches_many,
)
from tests.test_mapreduce_properties import (  # noqa: F401
    prop_engine,
    test_engine_matches_reference_model,
)


@pytest.fixture(scope="module")
def in_driver_max_chars():
    return 0


def test_fixtures_select_the_spark_path(engine, prop_engine):
    assert engine.in_driver_max_chars == prop_engine.in_driver_max_chars == 0
