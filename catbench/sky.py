"""Seeded synthetic sky for the catalog benchmark.

A fixed share of sources is isotropic; the rest sits in four Gaussian
clusters of different widths.  The clusters are what make the adaptive
partition map go deep and what make some cross-match cells hot, so
their centres and widths are constants: a seed changes which points are
drawn, never the shape of the sky.  Only NumPy and PyArrow are used, so
the oracles built on these arrays share no code with the engine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ISOTROPIC_SHARE = 0.7
# (ra deg, dec deg, sigma deg, share of the clustered rows).  One centre
# sits on a HEALPix base-pixel vertex (ra 90, dec asin(2/3)) so that the
# tightest cluster straddles partitions at every order.
CLUSTERS = (
    (90.0, 41.8103, 0.3, 0.25),
    (150.0, 2.0, 0.6, 0.25),
    (250.0, -30.0, 1.2, 0.25),
    (320.0, 55.0, 2.0, 0.25),
)


def isotropic(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    ra = rng.uniform(0.0, 360.0, n)
    dec = np.degrees(np.arcsin(rng.uniform(-1.0, 1.0, n)))
    return ra, dec


def clustered(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    shares = np.array([c[3] for c in CLUSTERS])
    which = rng.choice(len(CLUSTERS), size=n, p=shares / shares.sum())
    ra0, dec0, sig = (np.array([c[i] for c in CLUSTERS])[which] for i in range(3))
    dec = np.clip(dec0 + sig * rng.standard_normal(n), -89.9, 89.9)
    ra = np.mod(ra0 + sig * rng.standard_normal(n) / np.cos(np.radians(dec0)), 360.0)
    return ra, dec


def positions(rng: np.random.Generator, n: int) -> tuple[np.ndarray, np.ndarray]:
    """``n`` positions from the sky mix, in a shuffled order."""
    n_iso = int(round(n * ISOTROPIC_SHARE))
    ra_i, dec_i = isotropic(rng, n_iso)
    ra_c, dec_c = clustered(rng, n - n_iso)
    order = rng.permutation(n)
    return np.concatenate([ra_i, ra_c])[order], np.concatenate([dec_i, dec_c])[order]


def sources(rng: np.random.Generator, n: int, first_sid: int) -> pa.Table:
    """``n`` sources with ids ``first_sid ..``, positions from the sky mix."""
    ra, dec = positions(rng, n)
    return table(np.arange(first_sid, first_sid + n, dtype=np.int64), ra, dec, rng)


def table(sid: np.ndarray, ra: np.ndarray, dec: np.ndarray, rng: np.random.Generator) -> pa.Table:
    n = len(sid)
    return pa.table(
        {
            "sid": pa.array(sid, pa.int64()),
            "ra": pa.array(ra, pa.float64()),
            "dec": pa.array(dec, pa.float64()),
            "mag": pa.array(rng.uniform(14.0, 24.0, n), pa.float64()),
            "err": pa.array(rng.exponential(0.05, n).astype(np.float32), pa.float32()),
        }
    )


def counterparts(
    rng: np.random.Generator, left: pa.Table, n: int, matched_share: float,
    jitter_deg: float, first_sid: int,
) -> pa.Table:
    """A right-hand catalog: ``matched_share`` of its rows are copies of
    random left rows moved by a Gaussian offset of ``jitter_deg`` per
    axis; the rest are isotropic and, at the match radius, unmatched."""
    n_m = int(round(n * matched_share))
    pick = rng.choice(left.num_rows, size=n_m, replace=False)
    lra = left.column("ra").to_numpy()[pick]
    ldec = left.column("dec").to_numpy()[pick]
    dec_m = np.clip(ldec + jitter_deg * rng.standard_normal(n_m), -90.0, 90.0)
    ra_m = np.mod(lra + jitter_deg * rng.standard_normal(n_m) / np.cos(np.radians(ldec)), 360.0)
    ra_u, dec_u = isotropic(rng, n - n_m)
    order = rng.permutation(n)
    ra = np.concatenate([ra_m, ra_u])[order]
    dec = np.concatenate([dec_m, dec_u])[order]
    return table(np.arange(first_sid, first_sid + n, dtype=np.int64), ra, dec, rng)


def write_parts(t: pa.Table, dirpath: str, nfiles: int) -> int:
    """Write ``t`` as ``nfiles`` Parquet files; returns the bytes written."""
    os.makedirs(dirpath, exist_ok=True)
    edges = np.linspace(0, t.num_rows, nfiles + 1).astype(int)
    total = 0
    for i in range(nfiles):
        p = os.path.join(dirpath, f"part-{i:03d}.parquet")
        pq.write_table(t.slice(edges[i], edges[i + 1] - edges[i]), p)
        total += os.path.getsize(p)
    return total
