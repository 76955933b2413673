"""Order-independent, engine-independent ("exact") arithmetic: the one
owner of every fixed-point sum in trx_spark.

Floating-point sums depend on accumulation order, so a Spark partial-agg
tree and the single-threaded DuckDB oracle disagree in the last ulps —
and (measured) the two engines even cast DOUBLE→DECIMAL differently
(Spark goes through the shortest decimal representation, DuckDB through
the exact binary expansion). What IS bit-identical across engines is
plain IEEE-754 double arithmetic on identical expression trees, and
64-bit integer arithmetic.

So "exact" aggregation here means **fixed-point integer sums**:

    sum(x)  ≜  CAST(SUM(CAST(FLOOR(x · S) AS BIGINT)) AS DOUBLE) / S

``x · S`` and ``FLOOR`` are deterministic IEEE ops, the integer sum is
exact in any order, and BIGINT→DOUBLE is correctly rounded everywhere.
The truncation bias (≤ 1/S per addend) is identical on both engines, so
the correctness gate compares bit-equal values; production paths use
native double aggregation (faster) — ``exact`` is a per-operator flag.

Scale choice: S=1e6 (``SCALE``) handles |x| ≤ ~1e12 with ≤ 9e18/1e6-row
headroom; ``EMB_SCALE`` = 1e12 serves small-magnitude data (embeddings)
needing more digits.

The decision comes in three forms, which must stay parallel: the whole
parity argument rests on identical expression trees.

- **Column** (Spark plans): ``fint`` (the addend FLOOR(x·S) as BIGINT),
  ``dfinal`` (a BIGINT accumulator → double, for sums merged from
  partials), ``dsum``, ``davg``, ``dstddev_pop``, ``wdsum`` (the sum
  over a window spec), and the per-row array folds ``array_dot``
  (Σ fint(aᵢ·bᵢ)) and ``array_norm2`` (Σ fint(aᵢ·aᵢ)).
- **SQL text**: ``dlit`` (a double literal that parses to the same bits
  in Spark's ``F.expr`` and in DuckDB; ``dlit_array`` for a Spark array
  of them), ``sql_fint``, ``sql_dfinal``,
  ``sql_dsum``, ``sql_davg``, ``sql_dstddev_pop``, ``sql_wdsum`` (DuckDB
  oracles), and ``sql_array_dot`` / ``sql_array_norm2`` (Spark
  ``F.expr`` text of the array folds, for literal-operand plans whose
  Column form would cost one py4j call per literal).
- **Driver Python**: ``dot_fixed_py``, the array dot on bounded operands
  (Python floats are IEEE doubles; ``*`` and ``floor`` are the same ops).

Deliberately NOT fixed-point sums, and so not built here: integer-mass
algorithms whose BIGINT state is the algorithm (PageRank mass,
Bradley–Terry, DP noise), binning floors (HLL registers, histograms,
LSH-tuning bins, packing), ``lm``'s ``decimal(38,0)`` log-prob sum, and
the rarity/DSIR terms ``floor(S / freq)``, which round differently from
``fint(1 / freq)``.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

SCALE = 1_000_000.0
# The embedding scale: |x| <= ~1 for unit-ish embeddings, so per-row
# addends stay <= 1e12 and a 64-dim dot or a ~9e6-row group sum keeps
# int64 headroom. Every embedding query and k-means round uses this one
# value: a centroid scored at one scale and trained at another would
# not be the oracle's tree.
EMB_SCALE = 1e12


# --- Column builders (Spark side) --------------------------------------

def fint(col: Column, scale: float = SCALE) -> Column:
    """The fixed-point addend: FLOOR(x·S) as BIGINT (null-preserving)."""
    return F.floor(col * F.lit(scale)).cast("long")


def dfinal(acc: Column, scale: float = SCALE) -> Column:
    """A fixed-point BIGINT accumulator back to double: acc / S."""
    return acc.cast("double") / F.lit(scale)


def dsum(col: Column, scale: float = SCALE) -> Column:
    """Order/engine-independent SUM, returned as double."""
    return dfinal(F.sum(fint(col, scale)), scale)


def wdsum(col: Column, w, scale: float = SCALE) -> Column:
    """``dsum`` over the window spec ``w``."""
    return dfinal(F.sum(fint(col, scale)).over(w), scale)


def davg(col: Column, scale: float = SCALE) -> Column:
    """Order/engine-independent AVG = exact sum / count of non-nulls."""
    return dsum(col, scale) / F.count(col)


def dstddev_pop(col: Column, scale: float = SCALE, sq_scale: float | None = None) -> Column:
    """Population std-dev via exact sums: sqrt((Σx² − (Σx)²/n)/n).

    Matches numpy ``nanstd`` ddof=0 (trx uses it at dataReduction.py:175)
    up to fixed-point truncation — identically on Spark and the oracle.
    Clamped at 0 against round-off. ``sq_scale`` defaults to ``scale``
    (lower it when x² would overflow the 64-bit accumulator).
    """
    n = F.count(col)
    s1 = dsum(col, scale)
    s2 = dsum(col * col, sq_scale if sq_scale is not None else scale)
    var = (s2 - s1 * s1 / n) / n
    return F.sqrt(F.greatest(var, F.lit(0.0)))


def _fold(terms: Column, scale: float) -> Column:
    return dfinal(F.aggregate(terms, F.lit(0).cast("long"), lambda acc, v: acc + v), scale)


def _term(x: Column, y: Column, scale: float) -> Column:
    return fint(x.cast("double") * y.cast("double"), scale)


def array_dot(a: Column, b: Column, scale: float = SCALE) -> Column:
    """Σ fint(aᵢ·bᵢ) over two array columns, folded inside the row."""
    return _fold(F.zip_with(a, b, lambda x, y: _term(x, y, scale)), scale)


def array_norm2(a: Column, scale: float = SCALE) -> Column:
    """Σ fint(aᵢ·aᵢ): the squared norm as ``array_dot(a, a)``."""
    return _fold(F.transform(a, lambda x: _term(x, x, scale)), scale)


# --- SQL text builders --------------------------------------------------

def dlit(v: float) -> str:
    """A double literal as SQL text that parses to the same bits in
    Spark and DuckDB: a string→DOUBLE cast of ``repr``, which
    round-trips doubles. A bare decimal would not do: DuckDB types it
    DECIMAL, and for > 15 significant digits the DECIMAL→DOUBLE
    conversion can land an ulp off Spark's parse."""
    return f"CAST('{float(v)!r}' AS DOUBLE)"


def dlit_array(vs) -> str:
    """A Spark SQL array of ``dlit`` doubles (for ``sql_array_dot``)."""
    return f"array({', '.join(dlit(v) for v in vs)})"


def sql_fint(expr: str, scale: float = SCALE) -> str:
    return f"CAST(FLOOR(({expr}) * {scale!r}) AS BIGINT)"


def sql_dfinal(acc: str, scale: float = SCALE) -> str:
    # DuckDB sums BIGINT into HUGEINT; squeeze back through BIGINT (exact
    # for our magnitudes) so the →DOUBLE conversion is the same correctly
    # rounded int64→double as Spark's.
    return f"(CAST(CAST({acc} AS BIGINT) AS DOUBLE) / {scale!r})"


def sql_dsum(expr: str, scale: float = SCALE) -> str:
    return sql_dfinal(f"SUM({sql_fint(expr, scale)})", scale)


def sql_wdsum(expr: str, over: str, scale: float = SCALE) -> str:
    """``sql_dsum`` as a window aggregate: ``over`` is the window body."""
    return sql_dfinal(f"SUM({sql_fint(expr, scale)}) OVER ({over})", scale)


def sql_davg(expr: str, scale: float = SCALE) -> str:
    return f"({sql_dsum(expr, scale)} / COUNT({expr}))"


def sql_dstddev_pop(expr: str, scale: float = SCALE, sq_scale: float | None = None) -> str:
    n = f"COUNT({expr})"
    s1 = sql_dsum(expr, scale)
    s2 = sql_dsum(f"({expr}) * ({expr})", sq_scale if sq_scale is not None else scale)
    return f"SQRT(GREATEST((({s2}) - ({s1}) * ({s1}) / {n}) / {n}, 0.0))"


def _sql_term(x: str, y: str, scale: float) -> str:
    return f"CAST(FLOOR((CAST({x} AS DOUBLE) * CAST({y} AS DOUBLE)) * {dlit(scale)}) AS BIGINT)"


def _sql_fold(terms: str, scale: float) -> str:
    return (
        f"(CAST(aggregate({terms}, CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)"
        f" / {dlit(scale)})"
    )


def sql_array_dot(a: str, b: str, scale: float = SCALE) -> str:
    """``array_dot`` as Spark SQL text, for a literal operand
    (``dlit_array``). Text, not Column ops, on purpose: a py4j Column
    call costs milliseconds (measured ~5 ms per ``F.lit``, 51 s to build
    one 16×64 scoring plan), while one ``F.expr`` parse is a single
    round-trip that resolves to the same tree."""
    return _sql_fold(f"zip_with({a}, {b}, (x, y) -> {_sql_term('x', 'y', scale)})", scale)


def sql_array_norm2(a: str, scale: float = SCALE) -> str:
    """``array_norm2`` as Spark SQL text."""
    return _sql_fold(f"transform({a}, x -> {_sql_term('x', 'x', scale)})", scale)


# --- driver Python ------------------------------------------------------

def dot_fixed_py(a: list[float], b: list[float], scale: float = SCALE) -> float:
    """``array_dot`` in driver doubles, bit-exact: per element
    floor((x * y) * S), exact integer sum, one division by S. Only for
    BOUNDED operands (a query vector against a k × dim codebook)."""
    acc = 0
    for x, y in zip(a, b):
        acc += math.floor((float(x) * float(y)) * scale)
    return acc / scale
