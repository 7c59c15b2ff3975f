"""Small numpy and Arrow helpers shared by the similarity operators."""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def normalize_rows(X: np.ndarray) -> np.ndarray:
    """L2-normalize rows; zero rows stay zero."""
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    return X / norms


def vector_matrix(arr: pa.Array | pa.ChunkedArray, dim: int | None = None) -> np.ndarray:
    """An Arrow list column of vectors as an ``(n, dim)`` float64 matrix,
    read straight from the flat child buffer (no per-row Python lists).
    ``dim=None`` takes the first vector's length.

    Raises ``ValueError`` on a NULL vector or a vector whose length is
    not ``dim``: ``flatten()`` skips NULL lists, so either would shift
    the rows of the reshaped matrix instead of failing."""
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if arr.null_count:
        raise ValueError(f"vector column has {arr.null_count} NULL vector(s)")
    lengths = np.diff(arr.offsets.to_numpy())
    if dim is None:
        dim = int(lengths[0]) if len(lengths) else 0
    bad = np.flatnonzero(lengths != dim)
    if len(bad):
        raise ValueError(f"vector {bad[0]} has length {lengths[bad[0]]}, expected dim={dim}")
    return arr.flatten().to_numpy(zero_copy_only=False).astype(np.float64).reshape(len(arr), dim)
