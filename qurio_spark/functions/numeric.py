"""Engine-portable numeric helpers.

``stable_round`` exists because engines disagree on ROUND semantics for
doubles: Spark rounds the exact binary expansion (HALF_UP on
BigDecimal(double)), DuckDB rounds the shortest decimal representation
— so round(0.86874999999999993, 4) is 0.8687 on Spark but 0.8688 on
DuckDB.  ``floor(x * 10^d + 0.5) / 10^d`` is plain IEEE arithmetic,
bit-identical everywhere, which keeps rounded scores hash-comparable
across engines (the driver's t2 gate hashes values).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F
from pyspark.sql.column import Column


def stable_round(col: Column | str, digits: int) -> Column:
    """Engine-portable round-half-up(ish): floor(x*10^d + 0.5)/10^d.

    Oracle SQL writes the same fragment,
    ``floor((x) * 10^d + 0.5) / 10^d``, inline.
    (For negatives this is half-toward-+inf, not half-away — consistent
    across engines, which is what matters for oracle parity.)
    """
    if isinstance(col, str):
        col = F.col(col)
    scale = F.lit(float(10**digits))
    return F.floor(col.cast("double") * scale + F.lit(0.5)) / scale


# fdlibm e_log.c constants (the bit patterns are in fdlibm's comments)
_LN2_HI = 6.93147180369123816490e-01  # 3fe62e42 fee00000
_LN2_LO = 1.90821492927058770002e-10  # 3dea39ef 35793c76
_TWO54 = 1.80143985094819840000e16  # 43500000 00000000
_LG1 = 6.666666666666735130e-01  # 3FE55555 55555593
_LG2 = 3.999999999940941908e-01  # 3FD99999 9997FA04
_LG3 = 2.857142874366239149e-01  # 3FD24924 94229359
_LG4 = 2.222219843214978396e-01  # 3FCC71C5 1D8E78AF
_LG5 = 1.818357216161805012e-01  # 3FC74664 96CB03DE
_LG6 = 1.531383769920937332e-01  # 3FC39A09 D078C69F
_LG7 = 1.479819860511658591e-01  # 3FC2F112 DF3E5244


def strict_log(x) -> np.ndarray:
    """Natural log, bit-identical to Spark's ``log`` — Java's
    ``StrictMath.log``, which is fdlibm's ``__ieee754_log``.  ``math.log``
    and ``np.log`` (the platform libm) differ from it by one ulp on a
    few percent of arguments, which is enough to move a driver-side
    BM25 score off the Spark one.

    A line-for-line port of e_log.c, elementwise over a float64 array
    (scalars give a 0-d array): every branch is evaluated with plain
    IEEE double arithmetic and selected per element, so no libm call
    is involved."""
    x = np.array(x, dtype=np.float64)
    with np.errstate(all="ignore"):
        hx = x.view(np.int64) >> 32
        lx = x.view(np.int64) & 0xFFFFFFFF
        zero = ((hx & 0x7FFFFFFF) | lx) == 0
        neg = (hx < 0) & ~zero
        nonfinite = hx >= 0x7FF00000
        subnormal = (hx < 0x00100000) & ~zero & ~neg
        k = np.where(subnormal, -54, 0)
        xs = np.where(subnormal, x * _TWO54, x)
        hx = xs.view(np.int64) >> 32
        lx = xs.view(np.int64) & 0xFFFFFFFF
        k = k + (hx >> 20) - 1023
        hx = hx & 0x000FFFFF
        i = (hx + 0x95F64) & 0x100000
        xn = (((hx | (i ^ 0x3FF00000)) << 32) | lx).view(np.float64)  # normalize x or x/2
        k = k + (i >> 20)
        f = xn - 1.0
        dk = k.astype(np.float64)
        # |f| < 2**-20
        r = f * f * (0.5 - 0.33333333333333333 * f)
        tiny = np.where(
            f == 0.0,
            np.where(k == 0, 0.0, dk * _LN2_HI + dk * _LN2_LO),
            np.where(k == 0, f - r, dk * _LN2_HI - ((r - dk * _LN2_LO) - f)),
        )
        s = f / (2.0 + f)
        z = s * s
        w = z * z
        t1 = w * (_LG2 + w * (_LG4 + w * _LG6))
        t2 = z * (_LG1 + w * (_LG3 + w * (_LG5 + w * _LG7)))
        r = t2 + t1
        hfsq = 0.5 * f * f
        big = np.where(
            ((hx - 0x6147A) | (0x6B851 - hx)) > 0,
            np.where(
                k == 0,
                f - (hfsq - s * (hfsq + r)),
                dk * _LN2_HI - ((hfsq - (s * (hfsq + r) + dk * _LN2_LO)) - f),
            ),
            np.where(
                k == 0,
                f - s * (f - r),
                dk * _LN2_HI - ((s * (f - r) - dk * _LN2_LO) - f),
            ),
        )
        out = np.where((0x000FFFFF & (2 + hx)) < 3, tiny, big)
        out = np.where(nonfinite, x + x, out)
        out = np.where(neg, np.nan, out)
        return np.where(zero, -np.inf, out)
