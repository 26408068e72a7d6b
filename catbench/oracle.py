"""Brute-force NumPy oracles for the catalog benchmark.

Nothing here imports the engine: the cone and cross-match answers are
recomputed from the generated arrays alone.  Distances use the same
haversine form as the engine's distance column, so only points within
rounding of a cone edge could disagree, and with random centres and
radii those do not occur.
"""

from __future__ import annotations

import numpy as np

# order-independent pair checksum, kept small enough that Spark can sum
# it over a few million pairs in a signed long without overflow
PAIR_MUL = 1_000_003
PAIR_MOD = 2_147_483_647


def haversine_deg(ra1, dec1, ra2, dec2) -> np.ndarray:
    rlon1, rlat1 = np.radians(ra1), np.radians(dec1)
    rlon2, rlat2 = np.radians(ra2), np.radians(dec2)
    a = np.sin((rlat1 - rlat2) / 2.0) ** 2 + np.cos(rlat1) * np.cos(rlat2) * np.sin(
        (rlon1 - rlon2) / 2.0
    ) ** 2
    return np.degrees(2.0 * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0))))


def unit_vectors(ra: np.ndarray, dec: np.ndarray) -> np.ndarray:
    r, d = np.radians(ra), np.radians(dec)
    return np.stack([np.cos(d) * np.cos(r), np.cos(d) * np.sin(r), np.sin(d)], axis=1)


class ConeOracle:
    """Every row of a catalog that only grows, answered by brute force."""

    def __init__(self, sid: np.ndarray, ra: np.ndarray, dec: np.ndarray):
        self.sid, self.ra, self.dec = sid, ra, dec
        self.vec = unit_vectors(ra, dec)

    def add(self, sid: np.ndarray, ra: np.ndarray, dec: np.ndarray) -> None:
        self.sid = np.concatenate([self.sid, sid])
        self.ra = np.concatenate([self.ra, ra])
        self.dec = np.concatenate([self.dec, dec])
        self.vec = np.concatenate([self.vec, unit_vectors(ra, dec)])

    def totals(self) -> tuple[int, int]:
        return len(self.sid), int(self.sid.sum())

    def cone_ids(self, ra: float, dec: float, radius: float) -> np.ndarray:
        """Ids of the rows strictly closer than ``radius`` deg."""
        c = unit_vectors(np.array([ra]), np.array([dec]))[0]
        # loose dot-product prefilter, then the exact haversine test
        near = np.flatnonzero(self.vec @ c >= np.cos(np.radians(radius) + 1e-9))
        d = haversine_deg(self.ra[near], self.dec[near], ra, dec)
        return self.sid[near[d < radius]]

    def cone(self, ra: float, dec: float, radius: float) -> tuple[int, int]:
        """(count, sum of sid) of rows strictly closer than ``radius`` deg."""
        ids = self.cone_ids(ra, dec, radius)
        return len(ids), int(ids.sum())


def pair_checksum(lid: np.ndarray, rid: np.ndarray) -> int:
    return int(((lid * PAIR_MUL + rid) % PAIR_MOD).sum())


def nearest_pairs(
    l_sid, l_ra, l_dec, r_sid, r_ra, r_dec, dthresh: float
) -> tuple[np.ndarray, np.ndarray]:
    """k=1 match: for each left row the right row nearest within
    ``dthresh`` deg, ties broken by the smaller right id.  Right rows
    are hashed into a 3-D grid of unit vectors with the chord of
    ``dthresh`` as the cell edge, so every match lies in one of the 27
    cells around a left row."""
    h = 2.0 * np.sin(np.radians(dthresh) / 2.0) * (1 + 1e-9)
    lv, rv = unit_vectors(l_ra, l_dec), unit_vectors(r_ra, r_dec)

    def key(cells: np.ndarray) -> np.ndarray:
        c = cells + (1 << 20)
        return (c[:, 0] << 42) | (c[:, 1] << 21) | c[:, 2]

    rcell = np.floor(rv / h).astype(np.int64)
    rkey = key(rcell)
    order = np.argsort(rkey, kind="stable")
    rkey = rkey[order]
    lcell = np.floor(lv / h).astype(np.int64)
    best_d = np.full(len(l_sid), np.inf)
    best_r = np.full(len(l_sid), -1, dtype=np.int64)
    for dx in (-1, 0, 1):
        for dy in (-1, 0, 1):
            for dz in (-1, 0, 1):
                k = key(lcell + np.array([dx, dy, dz]))
                lo = np.searchsorted(rkey, k, "left")
                hi = np.searchsorted(rkey, k, "right")
                for j in range(int((hi - lo).max(initial=0))):
                    li = np.flatnonzero(lo + j < hi)
                    ri = order[lo[li] + j]
                    d = haversine_deg(l_ra[li], l_dec[li], r_ra[ri], r_dec[ri])
                    rid = r_sid[ri]
                    better = (d < dthresh) & (
                        (d < best_d[li]) | ((d == best_d[li]) & (rid < best_r[li]))
                    )
                    best_d[li[better]] = d[better]
                    best_r[li[better]] = rid[better]
    matched = best_r >= 0
    return l_sid[matched], best_r[matched]
