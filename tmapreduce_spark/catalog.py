"""Central query catalog: every implemented operator from SURVEY.md §2 has an
entry here — a Spark callable ``(spark, sf_dir) -> DataFrame`` and (where
SQL-expressible) an equivalent DuckDB oracle SQL string. ``__spark_entry__.py``
re-exports this catalog to the correctness driver.

Parity conventions (keep these or hashes break):
- every computed column aliased identically in Spark and SQL;
- float aggregates rounded (2 decimals for money sums, 6 for ratios/avgs) on
  BOTH sides so engine-order summation noise cancels;
- timestamps/dates surfaced as formatted strings, never raw temporal types;
- DuckDB integer sums cast to BIGINT (DuckDB widens to HUGEINT, Spark keeps
  LONG).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QuerySpec:
    """One catalog entry: Spark implementation + optional DuckDB oracle."""

    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    category: str


# Driver verification window. The correctness driver checks only the first
# ~50 entries of build_catalog() each round and commits what it saw as
# CORRECTNESS_r<N>.json at the repo root. The order is derived from those
# records: entries without a green row come first (round-robin across
# categories, so every family is sampled under any cap), then green entries
# from the oldest last-green round to the newest, so each round re-checks the
# stalest proofs. Without the records (an installed copy of the package) every
# entry counts as never verified.
_RECORDS_DIR = Path(__file__).resolve().parents[1]
_RECORD_NAME = re.compile(r"CORRECTNESS_r(\d+)\.json")
_GREEN = ("rows_match", "schema_match", "hash_match")


def _last_green_round(records_dir: Path = _RECORDS_DIR) -> dict[str, int]:
    """name -> round of its newest driver row, for entries whose newest row
    is green (all three checks true)."""
    rounds = sorted(
        (int(m.group(1)), path)
        for path in records_dir.glob("CORRECTNESS_r*.json")
        if (m := _RECORD_NAME.fullmatch(path.name))
    )
    latest: dict[str, tuple[int, dict]] = {}
    for rnd, path in rounds:
        for name, row in json.loads(path.read_text()).items():
            latest[name] = (rnd, row)
    return {
        name: rnd
        for name, (rnd, row) in latest.items()
        if all(row.get(k) is True for k in _GREEN)
    }


def _round_robin(by_cat: dict[str, list[str]]) -> list[str]:
    out: list[str] = []
    while any(by_cat.values()):
        for cat in list(by_cat):
            if by_cat[cat]:
                out.append(by_cat[cat].pop(0))
    return out


def _driver_priority_order(
    catalog: dict[str, QuerySpec], verified: dict[str, int]
) -> dict[str, QuerySpec]:
    """Reorder the catalog for the driver's verification window: entries not
    in ``verified`` first, round-robin across categories; then verified
    entries, oldest last-green round first, catalog position breaking ties."""
    backlog_by_cat: dict[str, list[str]] = {}
    for name, spec in catalog.items():
        if name not in verified:
            backlog_by_cat.setdefault(spec.category, []).append(name)

    ordered = _round_robin(backlog_by_cat)
    # sorted() is stable, so catalog position breaks ties within a round
    ordered.extend(sorted((n for n in catalog if n in verified), key=verified.get))
    return {name: catalog[name] for name in ordered}


def build_catalog() -> dict[str, QuerySpec]:
    from tmapreduce_spark.operators import (
        advanced,
        analytics,
        mapreduce_queries,
        relational,
        setops,
        tpch_extra,
        windows,
    )
    from tmapreduce_spark.functions import dedup, multimodal, scale, similarity, text, udfs
    from tmapreduce_spark.sources import bucketing, pysource

    catalog: dict[str, QuerySpec] = {}
    for mod in (
        relational,
        tpch_extra,
        advanced,
        analytics,
        windows,
        setops,
        text,
        dedup,
        similarity,
        multimodal,
        udfs,
        scale,
        mapreduce_queries,
        pysource,
        bucketing,
    ):
        for name, spec in mod.QUERIES.items():
            if name in catalog:
                raise ValueError(f"duplicate query name {name!r}")
            catalog[name] = spec
    return _driver_priority_order(catalog, _last_green_round())
