"""Seeded synthetic inputs. The same seed gives the same rows; every seed
gives the same sizes and value ranges.

The event layers follow the shape of the sf0.1 layers that the oracle
queries derive from TPC-H ``lineitem`` and ``orders``
(``__spark_entry__._seg`` / ``_pts``): integer begs in [0, 1000), integer
lengths 1..50, 100 routes, points at half-unit mileposts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

N_ROUTES = 100
SEG1_ROWS = 85_672
SEG2_ROWS = 86_073
PTS_ROWS = 150_000


def segments(rng: np.random.Generator, n: int) -> pd.DataFrame:
    beg = rng.integers(0, 1000, n).astype(np.float64)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return pd.DataFrame({
        "route": rng.integers(0, N_ROUTES, n).astype(np.int64),
        "beg": beg,
        "end": beg + qty,
        "val": np.round(rng.uniform(900.0, 105_000.0, n), 2),
        "qty": qty,
    })


def points(rng: np.random.Generator, n: int) -> pd.DataFrame:
    return pd.DataFrame({
        "route": rng.integers(0, N_ROUTES, n).astype(np.int64),
        "loc": rng.integers(0, 1000, n).astype(np.float64) + 0.5,
        "status": rng.choice(np.array(["O", "F", "P"]), n),
        "pval": np.round(rng.uniform(850.0, 555_000.0, n), 2),
    })


def event_layers(seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    return {
        "seg1": segments(rng, SEG1_ROWS),
        "seg2": segments(rng, SEG2_ROWS),
        "pts": points(rng, PTS_ROWS),
    }

