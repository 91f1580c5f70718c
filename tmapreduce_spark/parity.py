"""Cross-engine deterministic arithmetic for oracle parity.

Spark's ``round()`` converts a double to its shortest decimal representation
and applies HALF_UP; DuckDB rounds the raw binary value. For money-grid data
(products of 2-decimal columns land exactly on x.xx5 boundaries) the two
disagree systematically. Likewise, float sums depend on reduction order, which
differs between engines and between runs at different parallelism.

The fixes used throughout the catalog:

- :func:`mround` — floor(x*s + 0.5)/s. Pure IEEE ops, so for identical binary
  inputs the result is bit-identical on every engine. Use for PER-ROW values
  (both engines compute the same binary double first).
- :func:`msum2` — exact money summation: per-row floor(x*1e6+0.5) as BIGINT
  (exact integer micro-units), integer sum (associative, order-independent),
  half-up to 2 decimals in integer arithmetic, final exact cast to DOUBLE.
  Zero float involvement after the first per-row step => reduction order is
  irrelevant. Use for SUMS of money expressions.
- :func:`mavg` — exact integer sum as above, then one deterministic double
  division chain + mround. Use for AVGs.

These emit SQL text valid in BOTH dialects except integer division (Spark
``div``, DuckDB ``//``), selected by the ``dialect`` argument.

Scale note: BIGINT micro-units cap at ~9.2e18 — safe for per-group sums up to
~9e12 money units; for 100 TB whole-table sums switch the inner cast to
DECIMAL(38,0) (also exact) — the grid stays the same.

Transcendental exception (r06): three operators apply ln()/power() to
DATA-DEPENDENT values engine-side — `diag_psi_drift` (psi_term),
`text_zipf_fit` (log-log OLS), `pipeline_mix_temperature` (p^0.3). Java's
Math.log/pow and libm's are both within 1 ulp but not correctly rounded, so
the pre-mround doubles can differ by 1 ulp between engines. This is a
MEASURED, accepted risk, not an oversight: the transcendental's ARGUMENT is
an identical exact rational on both sides, so a disagreement requires the
true value to sit within ~2^-52·|x| of an mround(6) half-way boundary —
~1e-10 per emitted value, ~531 values across the three ops per driver round
(~5e-8/round). Everything else in the catalog stays transcendental-free
(Benford pre-rounds its constants; the LM/PMI/quality scores use exact
rational ratios precisely to avoid this). If a flip is ever observed, the
remedy is to emit the exact rational argument and move the log to the
consumer.
"""

from __future__ import annotations

SPARK = "spark"
DUCK = "duck"

# The catalog's word tokenizer over ``documents.text`` as Spark SQL: lower
# case, trim, split on whitespace runs. DuckDB spells the same tokens
# ``string_split_regex(trim(lower(text)), '\s+')``.
WORD_TOKENS = r"split(trim(lower(text)), '\\s+')"


def _idiv(dialect: str) -> str:
    return "div" if dialect == SPARK else "//"


def mround(expr: str, digits: int = 2) -> str:
    """Binary-deterministic round-half-up for per-row doubles (same text in
    both dialects)."""
    s = 10 ** digits
    return f"floor(({expr}) * {s} + 0.5) / {s}"


def mround_col(col, digits: int = 2):
    """Column-API form of :func:`mround` (for window expressions etc.)."""
    from pyspark.sql import functions as F

    s = 10 ** digits
    return F.floor(col * s + F.lit(0.5)) / s


def mround_np(x, digits: int = 2):
    """numpy form of :func:`mround` for values computed in Python (Arrow
    batches, driver-side models): the same IEEE ops on the same doubles, so
    it equals either engine's ``mround`` of them."""
    import numpy as np

    s = 10 ** digits
    return np.floor(x * s + 0.5) / s


def cents(expr: str, micro: int = 1_000_000) -> str:
    """Per-row exact integer micro-units of a money-grid double."""
    return f"CAST(floor(({expr}) * {micro} + 0.5) AS BIGINT)"


def msum2(expr: str, dialect: str) -> str:
    """Order-independent sum of a money expression, presented at 2 decimals
    as DOUBLE. Half-away-from-zero on negatives via the explicit CASE, so the
    integer division always sees positive operands — where Spark's ``div``
    and DuckDB's ``//`` agree. (Both TRUNCATE toward zero on integer
    operands — DuckDB floors only for floats, verified r06 — but negative
    behavior never enters through this guard.)"""
    d = _idiv(dialect)
    s = f"sum({cents(expr)})"
    return (
        f"CAST(CASE WHEN {s} >= 0 THEN ({s} + 5000) {d} 10000 "
        f"ELSE -((-{s} + 5000) {d} 10000) END AS DOUBLE) / 100"
    )


def mavg(expr: str, digits: int = 6) -> str:
    """Order-independent average of a money expression at `digits` decimals
    (same text both dialects: no integer division involved)."""
    return mround(f"CAST(sum({cents(expr)}) AS DOUBLE) / 1000000 / count(*)", digits)


def pearson_txt(n: str, sx: str, sy: str, sxx: str, syy: str, sxy: str,
                digits: int = 6) -> str:
    """Deterministic Pearson correlation from EXACT integer moment sums
    (same text both dialects). The six inputs must be BIGINT columns built
    from integer-valued per-row terms (counts, doubled ranks, micro-units),
    so the sums are reduction-order-independent; the combination
    (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²)(n·Syy − Sy²)) then runs entirely
    in DOUBLE — every int64 is cast to double FIRST (one deterministic
    rounding both engines share; doing the products in int64 would overflow
    at ~1e5 rows of doubled ranks), and sqrt is IEEE-correctly-rounded on
    both. NULL on zero variance."""
    cn, cx, cy = f"CAST({n} AS DOUBLE)", f"CAST({sx} AS DOUBLE)", f"CAST({sy} AS DOUBLE)"
    cxx, cyy, cxy = (
        f"CAST({sxx} AS DOUBLE)",
        f"CAST({syy} AS DOUBLE)",
        f"CAST({sxy} AS DOUBLE)",
    )
    num = f"({cn} * {cxy} - {cx} * {cy})"
    den = f"sqrt(({cn} * {cxx} - {cx} * {cx}) * ({cn} * {cyy} - {cy} * {cy}))"
    return f"CASE WHEN {den} = 0 THEN NULL ELSE {mround(f'{num} / {den}', digits)} END"
