"""Vectorized pairwise cosine over joined vector columns (SURVEY.md
A6: the reference's CLIP similarity, main.py:79).

The registry's exact nearest-neighbour queries (``plans/similarity.py``)
compute cosine as one numpy einsum per Arrow batch. Its 6-decimal
rounding keeps parity with the DuckDB oracles' DOUBLE arithmetic
(SURVEY.md §7.4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import functions as F


def pair_cosine_udf():
    """Vectorized pairwise cosine for joined vector pairs: one Arrow
    batch → one numpy einsum. Use when verifying candidate pairs at
    volume — Spark's higher-order array folds are interpreted (not
    codegen'd), so batch numpy wins ~10× there. Rounding to 6 decimals
    keeps parity with the fold/oracle arithmetic."""

    @F.pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        # tolist() + one asarray is ~8x faster than a per-row stack loop:
        # the Arrow list column arrives as an object Series of ndarrays,
        # and numpy's C-level sequence protocol beats Python iteration
        ma = np.asarray(a.tolist(), dtype="float64")
        mb = np.asarray(b.tolist(), dtype="float64")
        num = np.einsum("ij,ij->i", ma, mb)
        den = np.linalg.norm(ma, axis=1) * np.linalg.norm(mb, axis=1)
        return pd.Series(np.round(num / den, 6))

    return _cos
