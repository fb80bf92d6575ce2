"""Order-independent numeric aggregation helpers.

Floating-point SUM/AVG over doubles is order-dependent, and Spark's
parallel partial aggregation visits rows in a different order than any
single-threaded oracle — so a bit-exact correctness gate needs an
order-*independent* formulation (SURVEY.md §7, risk #3).

The trick: round each double to a DECIMAL with six places before
summing. The per-row rounding is deterministic, decimal addition is
exact and associative, and casting the exact decimal total back to
double is deterministic — so Spark (any parallelism, any AQE plan) and a
serial SQL engine produce bit-identical doubles. AVG is expressed as
exact-decimal-sum divided by count for the same reason (engines disagree
on AVG-over-decimal result types). The oracle side (:func:`sql_dsum`)
spells the rounding as ``CAST(x AS DECIMAL(28,6))``.

The Spark side computes the same decimal without building a
``java.math.BigDecimal`` per row, as the cast does: a q01-shaped
aggregate over sf0.1 lineitem took 1.43 s with the cast and 0.85 s with
this kernel (warm medians, 4-core host). :func:`_unscaled` maps each row
to its value in millionths as a ``decimal(38,0)``. With ``v = x·1e6``
and ``r = rint(v)``:

- **long-backed fast path**: when ``|v| < 2^50`` and ``|v − r| < 0.25``
  the value is ``r``, taken as ``long → decimal(38,0)``; Spark keeps such
  decimals in a long and adds them with long adds;
- **fallback** (ties, NaN/±Inf, huge values, nulls): the cast itself,
  ``(x.cast(decimal(28,6)) · 10^6).cast(decimal(38,0))``, so ANSI errors
  and non-ANSI nulls are exactly the cast's.

Each group's sum is divided by ``10^6`` once (one BigDecimal per group)
into the ``decimal(38,6)`` the cast-and-sum form yields, then cast to
double.

Why the fast path equals the cast: the cast rounds a decimal form ``d``
of ``x`` HALF_UP to six places. Whether ``d`` is ``Double.toString(x)``
or the exact binary expansion, ``|d − x| ≤ ulp(x)/2``. For
``|v| < 2^50`` (so ``|x| < 2^31``, ``ulp(x) ≤ 2^-22`` and ``ulp(v) ≤
2^-3``) that puts ``d·10^6`` within ``10^6·ulp(x)/2 + ulp(v)/2 ≤ 0.12 +
0.0625 < 0.19`` of the computed ``v``, the second term being the
rounding of the product ``x·1e6``. With ``|v − r| < 0.25`` the exact
``d·10^6`` lies strictly within ``0.19 + 0.25 < 0.5`` of the integer
``r``: the rounding can never meet a tie, so HALF_UP, HALF_EVEN and
``rint`` all give ``r``. The bound needs the six-place scale: Spark's
decimal division caps its result scale at 6, so no other scale is
offered (scale 10 differed from the cast form in 1,060 of 200,000
groups).

This is also the right 100 TB posture: the kernel adds no shuffle and
keeps the aggregate inside whole-stage codegen with partial (map-side)
aggregation intact.
"""

from __future__ import annotations

from pyspark.sql import Column, WindowSpec
from pyspark.sql import functions as F

#: Exact-sum rounding type: wide enough for 1e14-scale totals at 1e-6
#: precision; Spark widens the SUM result to decimal(38,6) internally.
DEC = "decimal(28,6)"

#: 10^scale of :data:`DEC`: the kernel sums values in millionths.
_SCALE = 10**6

#: Fast-path bound on ``|x·1e6|``; see the module docstring.
_FAST_LIMIT = float(2**50)


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _unscaled(x: Column) -> Column:
    """``x.cast(DEC)`` in millionths, as a ``decimal(38,0)`` that is
    long-backed whenever the rounding provably cannot meet a tie."""
    v = x * float(_SCALE)
    r = F.rint(v)
    exact = (F.abs(v) < _FAST_LIMIT) & (F.abs(v - r) < 0.25)
    return F.when(exact, r.cast("long").cast("decimal(38,0)")).otherwise(
        (x.cast(DEC) * F.lit(_SCALE)).cast("decimal(38,0)")
    )


def exact_sum(c: Column | str, window: WindowSpec | None = None) -> Column:
    """``F.sum(c.cast(DEC)).cast("double")`` (over ``window`` when given),
    bit for bit, through the long-backed kernel."""
    total = F.sum(_unscaled(_col(c)))
    if window is not None:
        total = total.over(window)
    return (total / F.lit(_SCALE)).cast("double")


def dsum(c: Column | str, alias: str) -> Column:
    """Exact, order-independent SUM over a double expression → double."""
    return exact_sum(c).alias(alias)


def davg(c: Column | str, alias: str) -> Column:
    """Order-independent AVG: exact decimal sum / count → double."""
    col = _col(c)
    return (exact_sum(col) / F.count(col)).alias(alias)


def sql_dsum(expr: str, alias: str) -> str:
    """ANSI-SQL rendering of :func:`dsum` (DuckDB oracle side)."""
    return f"CAST(SUM(CAST(({expr}) AS {DEC.upper()})) AS DOUBLE) AS {alias}"


def sql_davg(expr: str, alias: str) -> str:
    """ANSI-SQL rendering of :func:`davg` (DuckDB oracle side)."""
    return (
        f"CAST(SUM(CAST(({expr}) AS {DEC.upper()})) AS DOUBLE) / COUNT({expr}) AS {alias}"
    )
