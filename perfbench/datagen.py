"""Seeded point sets for the benchmark workloads (numpy only).

Every generator takes a ``numpy.random.Generator`` so one ``--seed`` fixes
every input of a run; the program under test only ever sees the DataFrame
built from these arrays.
"""

from __future__ import annotations

import numpy as np

SKEW_EXTENT = 20.0
SKEW_BLOBS = 12
SKEW_ZIPF = 1.6
# Narrow blobs: dense enough that the local kernel is the heaviest layer
# of a fit at a few tens of thousands of points.
SKEW_SIGMA = (0.125, 0.3)
NOISE_SHARE = 0.10


def skewed_layout(rng: np.random.Generator) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Blob centres, per-blob sigma and Zipf(1.6) mixture weights."""
    centres = rng.uniform(1.5, SKEW_EXTENT - 1.5, size=(SKEW_BLOBS, 2))
    sigmas = rng.uniform(*SKEW_SIGMA, size=SKEW_BLOBS)
    weights = 1.0 / np.arange(1, SKEW_BLOBS + 1) ** SKEW_ZIPF
    return centres, sigmas, weights / weights.sum()


def skewed_points(
    rng: np.random.Generator,
    n: int,
    layout: tuple[np.ndarray, np.ndarray, np.ndarray],
) -> np.ndarray:
    """``n`` 2-D points: Zipf-weighted Gaussian blobs plus uniform noise
    over the whole extent (MR-DBSCAN's skewed case)."""
    centres, sigmas, weights = layout
    n_noise = int(round(n * NOISE_SHARE))
    blob = rng.choice(len(weights), size=n - n_noise, p=weights)
    pts = centres[blob] + rng.normal(size=(len(blob), 2)) * sigmas[blob, None]
    noise = rng.uniform(0.0, SKEW_EXTENT, size=(n_noise, 2))
    out = np.vstack([pts, noise])
    return out[rng.permutation(len(out))]


def uniform_points(rng: np.random.Generator, n: int, density: float) -> np.ndarray:
    """``n`` points uniform over the square holding ``density`` points per
    unit area."""
    side = float(np.sqrt(n / density))
    return rng.uniform(0.0, side, size=(n, 2))
