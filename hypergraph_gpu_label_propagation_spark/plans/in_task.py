"""Shared pieces of the in-task NumPy paths (coreness, k-truss).

Under a row bound an operator sends every (u, v) pair of its graph to
ONE task (``repartition(1).mapInPandas``) and runs an exact peel over
plain arrays there, instead of paying Spark's fixed per-round cost once
per peel round (BENCH_SCALING.md "In-task peel").  This module holds
what those task bodies share: collecting the Arrow batches into int64
arrays, the dense id map, and emitting the result in Arrow-sized
slices.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

import numpy as np

if TYPE_CHECKING:
    import pandas as pd

# rows per emitted pandas frame (one Arrow batch each)
SLICE_ROWS = 1 << 20


def dense_ids(u: np.ndarray, v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """``(ids, inv)``: the sorted distinct ids of ``u`` and ``v``, and the
    dense index of every entry of ``concatenate([u, v])`` into ``ids``
    (``inv[:len(u)]`` maps ``u``, ``inv[len(u):]`` maps ``v``).  Any
    int64 id works; there is no 2^31 limit."""
    return np.unique(np.concatenate([u, v]), return_inverse=True)


def map_pairs(
    batches: Iterator[pd.DataFrame],
    peel: Callable[[np.ndarray, np.ndarray], dict[str, np.ndarray]],
) -> Iterator[pd.DataFrame]:
    """mapInPandas body of an in-task path: concatenate this partition's
    (u, v) batches into two int64 arrays, call ``peel(u, v)`` once, and
    yield its equal-length output columns in ``SLICE_ROWS`` slices.  An
    empty partition yields nothing."""
    # imported here, in the worker: pandas adds ~0.4 s to the package
    # import, and only the task bodies need it
    import pandas as pd

    us, vs = [], []
    for pdf in batches:
        us.append(pdf["u"].to_numpy(dtype=np.int64))
        vs.append(pdf["v"].to_numpy(dtype=np.int64))
    if not us:
        return
    cols = peel(np.concatenate(us), np.concatenate(vs))
    rows = len(next(iter(cols.values())))
    for lo in range(0, rows, SLICE_ROWS):
        yield pd.DataFrame({name: c[lo : lo + SLICE_ROWS] for name, c in cols.items()})
