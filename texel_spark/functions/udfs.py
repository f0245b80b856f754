"""Vectorized (Arrow-batched) pandas UDFs.

NOTE: no ``from __future__ import annotations`` here - pandas_udf infers
the eval type from the *resolved* type hints.
"""

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType


def hilbert_udf(zoom: int):
    """Hilbert d-index pandas UDF bound to a zoom (grid order 2^zoom)."""

    @pandas_udf(LongType())
    def _hilbert(tx: pd.Series, ty: pd.Series) -> pd.Series:
        from .cellkeys import hilbert_key

        return pd.Series(hilbert_key(tx.to_numpy("int64"), ty.to_numpy("int64"), zoom))

    return _hilbert
