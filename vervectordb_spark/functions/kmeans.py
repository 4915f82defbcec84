"""Driver-side k-means over a bounded sample — the one fit the PQ codec
(per-subspace codebooks) and the IVF index (coarse centroids) share.

Both fits read a driver-sized sample: PQ at most `sample_size` rows, IVF
at most 256 rows per centroid (FAISS's default max_points_per_centroid).
Clustering a few MB with MLlib costs one Spark job per iteration; the same
Lloyd's iterations in NumPy cost milliseconds (measured 14.5 s MLlib vs
~1 s local for the PQ fit at the reference geometry). The reference fits
sklearn on a driver-resident matrix too (vervectordb/__init__.py:161-180,
411-424).
"""

from __future__ import annotations

import numpy as np

#: float32 cells in one score block (64 MB)
_SCORE_CELLS = 1 << 24


def lloyd_kmeans(X: np.ndarray, k: int, seed: int, max_iter: int = 20) -> np.ndarray:
    """Seeded vectorized Lloyd's over a driver-resident sample. Empty
    clusters keep their previous centroid (deterministic). The result
    depends only on (X, k, seed, max_iter), row order included.

    Assignment scores are float32 and skip the ‖x‖² term (constant per row
    — argmin_c ‖x−c‖² == argmin_c (‖c‖² − 2x·c)), with in-place GEMM +
    axpy so the (n × k) score matrix is allocated once, not 3× per
    iteration. That's ~7× over the naive float64 broadcast expression
    (26 → 4 ms/iter at n=10k, k=256, d=16 — the float64 temporaries, not
    the GEMM, were the cost). Centroid UPDATES stay float64 (bincount
    sums over the original X), so precision loss is confined to
    assignment rounding on near-ties.

    Rows are scored in blocks of at most _SCORE_CELLS // k, so the score
    buffer stays ≤ 64 MB at any k (an IVF sample is 256·k rows: one
    unblocked (256k × k) buffer would be 16 GB at k=4096). Below that size
    there is one block and the arithmetic is the unblocked one."""
    rng = np.random.RandomState(seed)
    centers = X[rng.choice(len(X), size=k, replace=False)].copy()
    Xf = np.ascontiguousarray(X, dtype=np.float32)
    block = max(1, min(len(X), _SCORE_CELLS // max(1, k)))
    scores = np.empty((block, k), dtype=np.float32)
    assign = np.empty(len(X), dtype=np.intp)
    for _ in range(max_iter):
        cf = np.ascontiguousarray(centers.T, dtype=np.float32)
        cnorm = (cf ** 2).sum(0)[None, :]
        for lo in range(0, len(X), block):
            part = scores[: min(block, len(X) - lo)]
            np.matmul(Xf[lo:lo + block], cf, out=part)
            part *= -2.0
            part += cnorm
            assign[lo:lo + len(part)] = part.argmin(axis=1)
        counts = np.bincount(assign, minlength=k)
        sums = np.empty((k, X.shape[1]))
        for j in range(X.shape[1]):  # d bincounts beat a k-loop of masks
            sums[:, j] = np.bincount(assign, weights=X[:, j], minlength=k)
        nonempty = counts > 0
        new = centers.copy()
        new[nonempty] = sums[nonempty] / counts[nonempty, None]
        if np.allclose(new, centers):
            break
        centers = new
    return centers
