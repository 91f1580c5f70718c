"""Property-based verification (hypothesis) of the MapReduce engine's
observable contract against a pure-Python model of the reference semantics:

  sort kvs by key → flatMap(map_fn) → group by key → key-sort → per-key
  flatMap(reduce_fn) → flat concat in key order
  (SURVEY §1.4 ordering rules; reference job.cc:45-77, master.cc:736-738)

The model executes the same registered UDFs sequentially in one process; the
engine must produce the identical flat string array for ANY payload — unicode
keys, duplicate keys, empty values, any mapper/reducer split.
"""

from __future__ import annotations

import string

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from tmapreduce_spark.mapreduce import MapReduceEngine
from tmapreduce_spark.registry import JobRegistry, default_registry


def wide_map(key: str, value: str):
    # 0..n emissions per input pair (flatMap shape, like the reference Map)
    for i, ch in enumerate(value[:3]):
        yield ch, f"{key}:{i}"


def count_join_reduce(key: str, values: list[str]):
    # flatMap-shaped reduce; the join surfaces the WITHIN-KEY VALUE ORDER so
    # the property verifies SURVEY §1.4 rule 4 (subjob index, emission seq),
    # not just the multiset of values.
    yield key
    yield "|".join(values)


def model(kvs: list[tuple[str, str]]) -> list[str]:
    """Reference-semantics model, sequentially."""
    kvs_sorted = sorted(kvs, key=lambda kv: kv[0])
    grouped: dict[str, list[str]] = {}
    for k, v in kvs_sorted:
        for ok, ov in wide_map(k, v):
            grouped.setdefault(ok, []).append(ov)
    out: list[str] = []
    for k in sorted(grouped):
        out.extend(count_join_reduce(k, grouped[k]))
    return out


@pytest.fixture(scope="module")
def prop_engine(spark, in_driver_max_chars):
    reg = JobRegistry()
    reg.register("prop", wide_map, count_join_reduce)
    return MapReduceEngine(spark, registry=reg, in_driver_max_chars=in_driver_max_chars)


kv_strategy = st.lists(
    st.tuples(
        st.text(alphabet=string.ascii_lowercase + "0189", min_size=1, max_size=4),
        st.text(alphabet=string.printable[:40], min_size=0, max_size=6),
    ),
    min_size=1,
    max_size=25,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(kvs=kv_strategy, mapper_num=st.integers(1, 5), reducer_num=st.integers(1, 5))
def test_engine_matches_reference_model(prop_engine, kvs, mapper_num, reducer_num):
    engine = prop_engine
    job_id = engine.launch("prop-job", "prop", kvs, mapper_num, reducer_num, token="t")
    engine.wait(job_id)
    assert engine.get_result(job_id, token="t") == model(kvs)


PARTS = [1, 2, 4, 64]
# Words for the registered types: "spark" for grep-spark, a non-ASCII letter,
# and an NBSP that wordcount must not split on.
WORDS = ["spark", "sparkle", "a", "bb", "a1", "\u00e9", "x\u00a0y", ""]


def _shaped(job_type: str, kvs: list[tuple[str, str]]) -> list[tuple[str, str]]:
    """Values in the form the relation-tagged job types expect."""
    if job_type == "reducejoin":
        return [(k, ("N:" if i % 2 else "C:") + v) for i, (k, v) in enumerate(kvs)]
    if job_type == "secondarysort":
        return [(k, f"{i:03d}|{v}") for i, (k, v) in enumerate(kvs)]
    return kvs


doc_strategy = st.lists(
    st.tuples(
        st.text(alphabet="ab01\u00e9", min_size=1, max_size=3),
        st.lists(st.sampled_from(WORDS), max_size=6).map(" ".join),
    ),
    min_size=1,
    max_size=30,
)


TYPES = default_registry().types()


@pytest.mark.parametrize("job_type", TYPES)
@settings(
    max_examples=1,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)
@given(kvs=doc_strategy)
def test_driver_and_spark_paths_identical(spark, job_type, kvs):
    """Both launch executors return the identical result array for every
    registered job type, at mapper_num and reducer_num 1/2/4/64. The driver
    runs all 16 (mapper_num, reducer_num) pairs. Spark runs four of them (a
    64-way reduce stage costs seconds here): a Latin square, rotated per job
    type so the types cover all 16 pairs between them. Partitioning changes
    no result, so every result must equal every other."""
    kvs = _shaped(job_type, kvs)
    rot = TYPES.index(job_type)
    on_driver = MapReduceEngine(spark)
    on_spark = MapReduceEngine(spark, in_driver_max_chars=0)
    launched = [(on_spark, on_spark.launch("bi", job_type, kvs, m, PARTS[(i + rot) % 4]))
                for i, m in enumerate(PARTS)]
    launched += [(on_driver, on_driver.launch("bi", job_type, kvs, m, r))
                 for m in PARTS for r in PARTS]
    results = []
    for e, job_id in launched:
        e.wait(job_id, timeout=120)
        assert e._jobs[job_id].path == ("spark" if e is on_spark else "driver")
        results.append(e.get_result(job_id))
    assert all(got == results[0] for got in results), job_type


def test_msum2_engine_parity_on_adversarial_values(spark):
    """msum2 must be bit-identical across engines on the nasty cases: x.xx5
    rounding boundaries, negatives, large magnitudes, and many tiny values
    whose float sum depends on order."""
    import duckdb

    from tmapreduce_spark.parity import DUCK, SPARK, msum2

    cases = [
        [0.005, 0.015, 0.025],
        [-0.005, -0.015, 10.105],
        [12345678.91, -12345678.905, 0.005],
        [0.01] * 999,
        [1e9, -1e9 + 0.01, 0.335, -0.335],
    ]
    con = duckdb.connect()
    for vals in cases:
        df = spark.createDataFrame([(v,) for v in vals], "x double")
        got = df.selectExpr(f"{msum2('x', SPARK)} AS s").collect()[0]["s"]
        con.execute("CREATE OR REPLACE TABLE t(x DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals])
        want = con.execute(f"SELECT {msum2('x', DUCK)} AS s FROM t").fetchone()[0]
        assert got == want, (vals[:3], got, want)
