"""Reference models the benchmark checks the engine's outputs against.

- :func:`mr_launch_model`: pure-Python evaluation of a registry job type
  under the engine's ``launch`` contract (stable key sort of the payload,
  map in payload order, values grouped in emission order, reduce per key in
  ascending key order, results concatenated).
- :func:`apply_rows_match`: the ``apply_df(..., ordered=True)`` contract
  (rows in ascending key order; within one key, reduce outputs as a
  multiset, because within-key value order is shuffle arrival order).
- :func:`frames_match`: the oracle comparison of the engine's test suite
  (sorted columns, dtype kind, row-sorted exact values, NaN == NaN).
"""

from __future__ import annotations

import math

import pandas as pd


def _grouped(job_type, kvs):
    """Map every pair in stable key order; group emissions per key in
    emission order."""
    groups: dict[str, list[str]] = {}
    for k, v in sorted(kvs, key=lambda kv: kv[0]):
        for ok, ov in job_type.map_fn(k, v):
            groups.setdefault(ok, []).append(ov)
    return groups


def mr_launch_model(job_type, kvs) -> list[str]:
    """Flat key-ordered result array ``launch`` + ``get_result`` must return.

    Partitioning does not change it: slices are contiguous runs of the
    key-sorted payload and values are ordered by (slice, emission seq), which
    is global emission order. A registered combiner asserts the reducer is
    insensitive to pre-combination, so the model reduces raw emissions."""
    groups = _grouped(job_type, kvs)
    out: list[str] = []
    for k in sorted(groups):
        out.extend(job_type.reduce_fn(k, groups[k]))
    return out


def apply_model(job_type, kvs) -> dict[str, list[str]]:
    """Per-key sorted reduce outputs of ``apply_df`` over ``kvs``."""
    groups = _grouped(job_type, kvs)
    return {k: sorted(job_type.reduce_fn(k, vs)) for k, vs in groups.items()}


def map_emissions(job_type, kvs) -> int:
    return sum(len(list(job_type.map_fn(k, v))) for k, v in kvs)


def apply_rows_match(rows, expected: dict[str, list[str]]) -> str | None:
    """``rows``: (key, result) tuples in collect order. Returns a mismatch
    description, or None."""
    keys = [k for k, _ in rows]
    if any(a > b for a, b in zip(keys, keys[1:])):
        return "rows not in ascending key order"
    got: dict[str, list[str]] = {}
    for k, r in rows:
        got.setdefault(k, []).append(r)
    if got.keys() != expected.keys():
        return f"key sets differ ({len(got)} vs {len(expected)} keys)"
    for k, vs in got.items():
        if sorted(vs) != expected[k]:
            return f"key {k!r}: outputs differ"
    return None


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype(float)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), ignore_index=True)


def _kind(s: pd.Series) -> str:
    if pd.api.types.is_float_dtype(s):
        return "f"
    return "i" if pd.api.types.is_integer_dtype(s) else "o"


def frames_match(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Returns a mismatch description, or None when the frames agree."""
    if len(got) != len(want):
        return f"row count {len(got)} vs oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs {sorted(want.columns)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        if _kind(g[c]) != _kind(w[c]):
            return f"{c}: dtype {g[c].dtype} vs oracle {w[c].dtype}"
        for i, (a, b) in enumerate(zip(g[c].tolist(), w[c].tolist())):
            if isinstance(a, float) and isinstance(b, float) and math.isnan(a) and math.isnan(b):
                continue
            if a != b:
                return f"{c}[{i}]: {a!r} != {b!r}"
    return None
