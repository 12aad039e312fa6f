"""Summary statistics and the order-insensitive store digest."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa

# percentiles a tail may be reported at, lowest first
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_MIN_BEYOND = 10
TRIPLE_COLUMNS = ["subj", "pred", "obj", "weight", "subj_rank", "obj_rank"]


def median(values: list[float]) -> float:
    return float(np.median(np.asarray(values, dtype=np.float64)))


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile (numpy's default method)."""
    return float(np.percentile(np.asarray(values, dtype=np.float64), pct))


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, sample count) of the tail: the highest percentile
    in ``TAIL_LADDER`` that leaves at least ``TAIL_MIN_BEYOND`` samples
    strictly above it. With too few samples for any ladder step to qualify,
    the tail falls back to the median (percentile 50)."""
    arr = np.asarray(values, dtype=np.float64)
    best = (percentile(values, 50.0), 50.0)
    for pct in TAIL_LADDER:
        v = float(np.percentile(arr, pct))
        if int((arr > v).sum()) >= TAIL_MIN_BEYOND:
            best = (v, pct)
    return best[0], best[1], int(arr.size)


def triples_digest(table: pa.Table) -> tuple[int, str]:
    """(rows, digest) of a canonical triples table, independent of row order
    and of partitioning columns: the 64-bit row hashes are summed modulo
    2**64, so any multiset of rows has one digest."""
    df = table.select(TRIPLE_COLUMNS).to_pandas()
    for c in ("subj", "pred", "obj"):
        df[c] = df[c].astype(object)
    for c in ("weight", "subj_rank", "obj_rank"):
        df[c] = df[c].astype(np.int64)
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    return len(df), f"{int(h.sum(dtype=np.uint64)):016x}"
