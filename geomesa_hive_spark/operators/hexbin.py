"""Hexagonal binning — the H3/hexbin density-map primitive: assign
each point the axial (q, r) id of the pointy-top hexagon of size
``size`` containing it, entirely as NATIVE column expressions (zero
Python, whole-stage codegen), so a hex density rollup is one
map-side-combined groupBy exactly like the square-grid density surface
(`operators/density.py`) — hexagons just sample space better (the
quantization error of a hex lattice is ~13% lower than a square grid
of equal cell area, which is why every geo-analytics stack offers it).

Axial math (the standard cube-rounding algorithm): fractional axial
coords ``q = (√3/3·x − 1/3·y)/s``, ``r = (2/3·y)/s``; extend to cube
(x, y, z) with x+y+z=0, round each, then repair the axis with the
largest rounding error so the invariant holds. Every step is plain
arithmetic + CASE, and the repair branches make the assignment EXACT
(no point-on-boundary ambiguity beyond 1-ulp ties, the same exposure
every grid operator here accepts).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["hex_cell", "hexbin_counts"]

_S3_3 = repr(math.sqrt(3.0) / 3.0)


def _hex_exprs(x: str, y: str, size: float) -> tuple[str, str]:
    """(q_expr, r_expr) SQL text for the native hex assignment."""
    s = repr(float(size))
    fq = f"(({_S3_3} * {x} - (1.0/3.0) * {y}) / {s})"
    fr = f"(((2.0/3.0) * {y}) / {s})"
    # cube coords: cx=fq, cz=fr, cy=-cx-cz; round; repair largest error
    cx, cz = fq, fr
    cy = f"(-({fq}) - ({fr}))"
    rx, ry, rz = f"round({cx})", f"round({cy})", f"round({cz})"
    dx = f"abs({rx} - ({cx}))"
    dy = f"abs({ry} - ({cy}))"
    dz = f"abs({rz} - ({cz}))"
    q = (
        f"CAST(CASE WHEN {dx} > {dy} AND {dx} > {dz} "
        f"THEN -({ry}) - ({rz}) ELSE {rx} END AS BIGINT)"
    )
    r = (
        f"CAST(CASE WHEN {dx} > {dy} AND {dx} > {dz} THEN {rz} "
        f"WHEN {dy} > {dz} THEN {rz} "
        f"ELSE -({rx}) - ({ry}) END AS BIGINT)"
    )
    return q, r


def hex_cell(x_col: str, y_col: str, size: float) -> tuple[Column, Column]:
    """(hex_q, hex_r) native columns for planar coordinates."""
    q, r = _hex_exprs(x_col, y_col, size)
    return F.expr(q), F.expr(r)


def hexbin_counts(
    df: DataFrame, x_col: str, y_col: str, size: float
) -> DataFrame:
    """(hex_q, hex_r, n) — one map-side-combined groupBy; output is
    raster-sized (occupied hexagons), not input-sized."""
    q, r = hex_cell(x_col, y_col, size)
    return (
        df.withColumn("hex_q", q)
        .withColumn("hex_r", r)
        .groupBy("hex_q", "hex_r")
        .agg(F.count("*").cast("long").alias("n"))
    )
