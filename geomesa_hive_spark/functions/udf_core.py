"""One builder that turns a per-row kernel into an Arrow-batched pandas UDF.

The PySpark form of the reference's typeclass UDF derivation
(``core/src/main/scala/com/azavea/hiveless/HUDF.scala:25-40``). A function
is declared as its kernel callable, its argument kinds and its Spark
return type; :func:`st_udf` derives the rest, once for every ST_* name:

- **decoding by kind**: a ``GEOM`` argument is WKB, decoded once per
  distinct value in a batch (:func:`parse_cache`, so a literal geometry
  parses once per batch, not once per row); a ``NUM`` argument is widened
  from int/decimal/double to float64 (``HDeserializer.scala:150-186``),
  where NaN reads as NULL; ``TEXT`` and ``BYTES`` arguments reach the
  kernel as they arrive;
- **null in ⇒ null out**: a NULL in any argument gives NULL without
  calling the kernel (``HUDF.scala:31-39``);
- **the result**: a ``Geometry`` is encoded to WKB, ``None`` is NULL and
  any other value passes through;
- **an optional all-points path**: when every geometry argument of a
  batch is plain 2-D point WKB, ``points(x0, y0, x1, y1, ...)`` runs on
  the coordinate arrays (one ``frombuffer``, ``wkb.wkb_array_to_points``)
  and a NaN in its float result is NULL.

Errors are the kernel's: a parser that maps malformed input to NULL does
so inside its kernel, and a kernel that raises fails the batch.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd

from pyspark.sql.functions import pandas_udf

from geomesa_hive_spark.geom.core import Geometry
from geomesa_hive_spark.geom.wkb import from_wkb, to_wkb, wkb_array_to_points

__all__ = ["GEOM", "NUM", "TEXT", "BYTES", "st_udf", "parse_cache", "numeric_series"]

# argument kinds; TEXT and BYTES decode alike and differ only in the SQL
# type a caller passes
GEOM, NUM, TEXT, BYTES = "geom", "num", "text", "bytes"


def parse_cache() -> Callable[[bytes | None], Geometry | None]:
    """Per-batch WKB→Geometry parser with a cache keyed by the raw bytes
    (constant/literal columns parse once per batch)."""
    cache: dict[bytes, Geometry] = {}

    def parse(b):
        if b is None:
            return None
        key = bytes(b)
        g = cache.get(key)
        if g is None:
            g = from_wkb(key)
            cache[key] = g
        return g

    return parse


def numeric_series(s: pd.Series) -> np.ndarray:
    """Coerce int/decimal/float input to float64 (reference's numeric
    widening, ``HDeserializer.scala:150-186``); None → NaN."""
    if s.dtype == object:
        return pd.to_numeric(s, errors="coerce").to_numpy(dtype=np.float64)
    return s.to_numpy(dtype=np.float64, na_value=np.nan)


def _decode(kind: str, col: pd.Series, parse):
    """One argument column as kernel values, NULL as None. Geometries
    decode lazily, so the rows parse and run in row order and a batch
    fails on its first bad row, whichever argument holds it."""
    if kind == GEOM:
        return map(parse, col)
    if kind == NUM:
        a = numeric_series(col)
        vals = a.tolist()
        for i in np.flatnonzero(np.isnan(a)):
            vals[i] = None
        return vals
    return col.tolist()


def _encode(r):
    return to_wkb(r) if isinstance(r, Geometry) else r


def _points_xy(cols) -> list[np.ndarray] | None:
    """``[x0, y0, x1, y1, ...]`` when every column is plain point WKB
    (NaN at a NULL), else None."""
    xy: list[np.ndarray] = []
    for c in cols:
        fp = wkb_array_to_points(c.to_numpy(dtype=object))
        if fp is None:
            return None
        xy.extend(fp)
    return xy


def st_udf(kernel: Callable, kinds, return_type, points: Callable | None = None):
    """The pandas UDF of ``kernel(*row)`` over arguments of ``kinds``.

    ``points``, allowed only when every kind is ``GEOM``, is the
    vectorized form of the kernel on all-point batches. The UDF carries
    its kinds as ``.kinds``."""
    kinds = tuple(kinds)
    if points is not None and any(k != GEOM for k in kinds):
        raise ValueError("the all-points path takes geometry arguments only")

    def impl(*cols: pd.Series) -> pd.Series:
        if len(cols) != len(kinds):
            raise TypeError(f"{kernel.__name__} takes {len(kinds)} arguments, got {len(cols)}")
        if points is not None:
            xy = _points_xy(cols)
            if xy is not None:
                return pd.Series(np.asarray(points(*xy), dtype=np.float64))
        parse = parse_cache()
        args = [_decode(k, c, parse) for k, c in zip(kinds, cols)]
        if len(args) == 1:
            out = [None if v is None else _encode(kernel(v)) for v in args[0]]
        else:
            out = [None if None in row else _encode(kernel(*row)) for row in zip(*args)]
        return pd.Series(out, dtype=object)

    udf = pandas_udf(impl, return_type)
    udf.kinds = kinds
    return udf
