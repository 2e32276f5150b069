"""The exact-arithmetic kernel of the ANN and curation family.

Every driver-side loop and NumPy ``mapInPandas`` scorer in
:mod:`.similarity` that must reproduce Spark's (and the DuckDB
oracle's) doubles bit for bit takes its arithmetic from here, so each
rule is written once:

- :func:`round_half_up` — Spark's ``round(double, dp)``;
- :func:`double_compare` — the order Spark's sorts, windows and
  ``max_by``/``min_by`` apply to DoubleType;
- :func:`fold_dot` / :func:`fold_cos` — the plain-Python sequential
  fold (the driver's Lloyd loops and probe/assign decisions);
- :func:`vec_matrix`, :func:`fold_rows`, :func:`fold_norm`,
  :func:`fold_cross`, :func:`fold_cross_d2` and
  :func:`rounded_argbest` — the same fold vectorized over NumPy
  batches.

The fold is the JVM's unrolled expression chain: the accumulator
starts at 0.0 and adds one double product per dimension in index
order (no BLAS, pairwise summation or FMA reassociation), norms are
the correctly-rounded ``sqrt`` of the same fold, and a cosine
associates ``dot / (na * nb)``. Scorers reference these module-level
functions, so task closures pickle them by reference and workers
import this module (shipped with the package, e.g. ``--py-files``).
"""

from __future__ import annotations

import math
from decimal import ROUND_HALF_UP, Context, Decimal

import numpy as np

# a finite double's integer part has at most 309 digits: quantizing it
# to any supported scale stays exact (the default 28 digits raise
# InvalidOperation from |x| ~ 1e22 on)
_WIDE = Context(prec=400)


def round_half_up(x: float, dp: int = 6) -> float:
    """Spark's ``round(double, dp)``: HALF_UP on the shortest decimal
    repr of the double (``BigDecimal.valueOf == Decimal(repr(x))``).
    ±inf and NaN pass through unchanged, and a zero result is +0.0 —
    BigDecimal has no signed zero, so ``round(-4e-7, 6)`` is 0.0 in
    Spark where a bare Decimal quantize gives -0.0."""
    x = float(x)
    if not math.isfinite(x):
        return x
    q = Decimal(repr(x)).quantize(
        Decimal(f"1e{-dp}"), rounding=ROUND_HALF_UP, context=_WIDE
    )
    return float(q) + 0.0  # -0.0 + 0.0 == +0.0; exact otherwise


def double_compare(a: float, b: float) -> int:
    """The DoubleType order of Spark's sorts, windows and
    ``max_by``/``min_by`` (``x == y ? 0 : java.lang.Double.compare``):
    NaN equals NaN and sorts above everything, and -0.0 ties 0.0."""
    if a < b:
        return -1
    if a > b:
        return 1
    if a == b:
        return 0
    return math.isnan(a) - math.isnan(b)


def fold_dot(a, b) -> float:
    """Sequential-fold dot product of two vectors in plain Python."""
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + float(x) * float(y)
    return acc


def fold_cos(a, b) -> float:
    """Sequential-fold cosine in plain Python — the raw value is
    bit-identical to the unrolled expression form."""
    return fold_dot(a, b) / (
        math.sqrt(fold_dot(a, a)) * math.sqrt(fold_dot(b, b))
    )


def vec_matrix(cells, dim: int | None) -> np.ndarray:
    """An Arrow list column (pandas Series of arrays) or a list of
    vectors as an (n, dim) float64 matrix."""
    if len(cells) == 0:
        return np.zeros((0, dim or 0))
    return np.vstack([np.asarray(c, dtype=np.float64) for c in cells])


def fold_rows(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Row-wise fold dot of two (n, dim) matrices: (n,)."""
    acc = np.zeros(A.shape[0])
    for d in range(A.shape[1]):
        acc = acc + A[:, d] * B[:, d]
    return acc


def fold_norm(A: np.ndarray) -> np.ndarray:
    """Row-wise fold L2 norm of an (n, dim) matrix: (n,)."""
    return np.sqrt(fold_rows(A, A))


def fold_cross(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Fold dot of every row of A with every row of B: (n_a, n_b)."""
    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        acc = acc + A[:, d][:, None] * B[:, d][None, :]
    return acc


def fold_cross_d2(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Fold squared L2 distance of every row of A to every row of B:
    (n_a, n_b), each step ``acc + (a - b) * (a - b)``."""
    acc = np.zeros((A.shape[0], B.shape[0]))
    for d in range(A.shape[1]):
        t = A[:, d][:, None] - B[:, d][None, :]
        acc = acc + t * t
    return acc


def rounded_argbest(raw: np.ndarray, maximize: bool) -> np.ndarray:
    """Row-wise arg-best of the @6dp-rounded values with ties to the
    LOWEST column; ``raw``'s columns are in ascending id order. Fast
    path: the raw arg-best is accepted when its margin to the
    runner-up exceeds 1e-6 — rounding moves a value by at most 5e-7,
    so a wider raw margin can neither flip nor tie the rounded order.
    Rows inside the margin are re-ranked exactly (round_half_up per
    column, double_compare, first win)."""
    n, k = raw.shape
    rows = np.arange(n)
    best = np.argmax(raw, axis=1) if maximize else np.argmin(raw, axis=1)
    rest = raw.copy()
    rest[rows, best] = -np.inf if maximize else np.inf
    second = rest.max(axis=1) if maximize else rest.min(axis=1)
    sign = 1 if maximize else -1
    for i in np.flatnonzero(np.abs(raw[rows, best] - second) <= 1e-6):
        rb, rs = 0, round_half_up(raw[i, 0])
        for j in range(1, k):
            s = round_half_up(raw[i, j])
            if sign * double_compare(s, rs) > 0:
                rb, rs = j, s
        best[i] = rb
    return best
