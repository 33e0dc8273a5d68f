"""Order-insensitive result comparison for the per-operation oracles.

A result is compared by row count plus a content digest: every row is
reduced to a 64-bit hash of its canonical values and the digest is the
multiset of those hashes, so row order never matters (sort order is
checked separately where a template promises one). Column names are
ignored; columns compare by position.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

NULL = -(2**62)


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Positional columns with one dtype per kind of value: integral
    numbers (also integral floats, which nullable integer columns turn
    into) as int64 with nulls as a sentinel, everything else as str."""
    out = {}
    for i, col in enumerate(df.columns):
        s = df[col]
        if pd.api.types.is_bool_dtype(s):
            s = s.astype("int64")
        if pd.api.types.is_numeric_dtype(s):
            v = s.astype("float64").to_numpy()
            nan = np.isnan(v)
            if np.all(np.equal(np.mod(v[~nan], 1), 0)):
                iv = np.where(nan, NULL, np.nan_to_num(v)).astype("int64")
                # large integers lose precision through float64
                if not s.isna().any() and s.dtype.kind in "iu":
                    iv = s.to_numpy().astype("int64")
                out[i] = iv
            else:
                out[i] = np.where(nan, "<null>", v.astype(str))
        else:
            out[i] = s.map(lambda x: "<null>" if x is None or x is pd.NA
                           or (isinstance(x, float) and np.isnan(x))
                           else str(x)).to_numpy(dtype=object)
    return pd.DataFrame(out)


def row_hashes(df: pd.DataFrame) -> np.ndarray:
    if len(df) == 0:
        return np.zeros(0, dtype="uint64")
    return np.sort(pd.util.hash_pandas_object(canon(df), index=False)
                   .to_numpy())


def matched(got: np.ndarray, want: np.ndarray) -> int:
    """Size of the multiset intersection of two sorted hash arrays."""
    gv, gc = np.unique(got, return_counts=True)
    wv, wc = np.unique(want, return_counts=True)
    _, gi, wi = np.intersect1d(gv, wv, return_indices=True)
    return int(np.minimum(gc[gi], wc[wi]).sum())


class Expected:
    """The oracle's answer for one operation: its row hashes."""

    def __init__(self, df: pd.DataFrame):
        self.rows = len(df)
        self.hashes = row_hashes(df)

    def compare(self, got: pd.DataFrame) -> tuple[bool, int]:
        """(exact match, rows of the expected result that were found)."""
        gh = row_hashes(got)
        if len(gh) == self.rows and np.array_equal(gh, self.hashes):
            return True, self.rows
        return False, matched(gh, self.hashes)
