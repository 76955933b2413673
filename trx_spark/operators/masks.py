"""Pixel masks as boolean predicate expressions (trx/mask.py re-design).

The reference materializes 2-D boolean bitmaps (mask.py:54-155) built from
components (rectangles, circles, polygons, threshold strings) combined in
order with add/subtract last-writer-wins semantics (mask.py:128-135). In
Spark a mask is just a boolean *expression* over the pixel table's (x, y)
columns — Catalyst folds it into the scan filter, so masking costs nothing
at 100 TB (no bitmap join, no materialization).
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

# mask.py:287-326 DSL: "x>10", "y<500" …
_DSL_RE = re.compile(r"^\s*([xy])\s*(<|>|<=|>=)\s*(-?\d+\.?\d*)\s*$")


def mask_from_string(expr: str) -> Column:
    """Parse the reference's mini-DSL (trx/mask.py:287-326) into a
    predicate; True = masked out. A composite string joins clauses
    with ';' ('x>400;y<100') and masks the UNION of the clauses —
    the reference-style input the compat façade forwards verbatim."""
    clauses = [c.strip() for c in expr.split(";") if c.strip()]
    if not clauses:
        raise ValueError(f"cannot parse mask string {expr!r}")
    out: Column | None = None
    for clause in clauses:
        m = _DSL_RE.match(clause)
        if not m:
            raise ValueError(f"cannot parse mask string {clause!r}")
        axis, op, val = m.groups()
        c = F.col(axis)
        v = float(val)
        pred = {"<": c < v, ">": c > v, "<=": c <= v, ">=": c >= v}[op]
        out = pred if out is None else (out | pred)
    return out


def mask_rectangle(x0: float, x1: float, y0: float, y1: float) -> Column:
    """Rectangle component (trx/mask.py:36-41)."""
    return (F.col("x") >= x0) & (F.col("x") <= x1) & (F.col("y") >= y0) & (F.col("y") <= y1)


def mask_circle(cx: float, cy: float, r: float) -> Column:
    """Circle component (trx/mask.py:43-48)."""
    return (F.pow(F.col("x") - cx, 2) + F.pow(F.col("y") - cy, 2)) <= r * r


def mask_polygon(
    vertices: list[tuple[float, float]], x: str = "x", y: str = "y"
) -> Column:
    """Polygon component (trx/mask.py:48-52 ``_polygonToMask``): the
    reference rasterizes matplotlib ``Path.contains_points`` (even-odd
    fill); here the same even-odd ray cast is UNROLLED over the constant
    vertex list into pure column arithmetic — one comparison+XOR term
    per edge, fully codegen-able, zero UDF, and Catalyst can push it
    into the scan like any other predicate.

    A point is inside iff a horizontal ray to +inf crosses an odd number
    of edges; the half-open rule ``(y1 > py) != (y2 > py)`` counts each
    vertex exactly once and skips horizontal edges."""
    if len(vertices) < 3:
        raise ValueError("polygon needs at least 3 vertices")
    px, py = F.col(x).cast("double"), F.col(y).cast("double")
    inside: Column = F.lit(False)
    n = len(vertices)
    for i in range(n):
        x1, y1 = (float(v) for v in vertices[i])
        x2, y2 = (float(v) for v in vertices[(i + 1) % n])
        if y1 == y2:
            continue
        crosses = ((F.lit(y1) > py) != (F.lit(y2) > py)) & (
            px < F.lit(x2 - x1) * (py - F.lit(y1)) / F.lit(y2 - y1) + F.lit(x1)
        )
        inside = inside != crosses  # boolean XOR: odd crossing count
    return inside


def mask_polygon_sql(
    vertices: list[tuple[float, float]], x: str = "px", y: str = "py"
) -> str:
    """The identical even-odd ray cast as an ANSI-SQL expression (for
    DuckDB oracles): same edge order, same parenthesization, same IEEE
    double ops — bit-exact against :func:`mask_polygon`. Literals go
    through :func:`trx_spark.exact.dlit` so DuckDB parses them as
    DOUBLE directly (a bare >15-significant-digit decimal would route
    through DECIMAL, whose DOUBLE conversion can land 1 ulp off the
    bits Spark's F.lit carries)."""
    from trx_spark.exact import dlit

    terms = []
    n = len(vertices)
    for i in range(n):
        x1, y1 = (float(v) for v in vertices[i])
        x2, y2 = (float(v) for v in vertices[(i + 1) % n])
        if y1 == y2:
            continue
        terms.append(
            f"((({dlit(y1)} > {y})) <> (({dlit(y2)} > {y})) AND "
            f"{x} < CAST({dlit(x2 - x1)} AS DOUBLE) * ({y} - {dlit(y1)}) "
            f"/ CAST({dlit(y2 - y1)} AS DOUBLE) + {dlit(x1)})"
        )
    expr = "FALSE"
    for t in terms:
        expr = f"({expr} <> {t})"
    return expr


def mask_border(shape: tuple[int, int], width: int) -> Column:
    """Border of the detector (trx/mask.py:240-262 ``maskBorder``)."""
    ny, nx = shape
    return (
        (F.col("x") < width)
        | (F.col("x") >= nx - width)
        | (F.col("y") < width)
        | (F.col("y") >= ny - width)
    )


def combine_masks(components: list[tuple[str, Column]]) -> Column:
    """Ordered add/subtract composition with last-writer-wins
    (trx/mask.py:128-135): later components override earlier ones where
    they apply. ``components`` is [(op, predicate)] with op in
    {"add", "subtract"}; returns the final masked predicate.

    Implemented as a reversed CASE chain — the last component whose
    predicate covers a pixel decides its fate.
    """
    masked: Column = F.lit(False)
    for op, pred in components:
        if op == "add":
            masked = F.when(pred, F.lit(True)).otherwise(masked)
        elif op == "subtract":
            masked = F.when(pred, F.lit(False)).otherwise(masked)
        else:
            raise ValueError(f"unknown mask op {op!r}")
    return masked


def interpret_mask(elements: list[str | Column]) -> Column:
    """Union ("logical or", trx/mask.py:289-368 ``interpretMask``) of mask
    elements: DSL strings or prebuilt predicates."""
    preds = [mask_from_string(e) if isinstance(e, str) else e for e in elements]
    out: Column = F.lit(False)
    for p in preds:
        out = out | p
    return out
