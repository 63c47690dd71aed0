"""Vector math over ``array<float>`` embedding columns.

Built entirely from higher-order array functions (``zip_with`` /
``aggregate``), which run inside the JVM with no Python boundary - the
scale path for the similarity operators (SURVEY.md section 7.5). Elements
are widened to double before multiply/accumulate so results agree with a
double-precision oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _dbl(arr: Column) -> Column:
    return arr.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    """Sequential-order dot product (deterministic across engines)."""
    a, b = _dbl(_as_col(a)), _dbl(_as_col(b))
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def l2_norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity. NULL when either array is NULL, holds a NULL,
    the lengths differ, or either norm is 0: ``try_divide`` gives NULL
    where ANSI ``/`` would raise DIVIDE_BY_ZERO, as DuckDB's ``x / 0.0``
    does."""
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


def quantize_scale(a: Column | str, bits: int = 8) -> Column:
    """Per-vector symmetric quantization scale: max|x| / (2^(bits-1)-1).
    Zero vectors get scale NULL (nothing to quantize)."""
    levels = float((1 << (bits - 1)) - 1)
    mx = F.array_max(F.transform(_dbl(_as_col(a)), F.abs))
    return F.when(mx > 0.0, mx / F.lit(levels))


def quantize_error(a: Column | str, scale: Column) -> Column:
    """Max absolute reconstruction error of symmetric round-to-nearest
    quantization at ``scale``: max_i |x_i - round(x_i/s)*s|.

    Rounding is ``floor(x/s + 0.5)`` - identical half-up semantics on
    every engine (float inputs essentially never land on exact halves,
    but the contract should not depend on that)."""
    arr = _dbl(_as_col(a))
    recon = lambda x: F.floor(x / scale + F.lit(0.5)) * scale
    return F.array_max(F.transform(arr, lambda x: F.abs(x - recon(x))))
