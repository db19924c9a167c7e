"""Independent checks of the engine's outputs (NumPy / pyarrow only)."""

from __future__ import annotations

import numpy as np

# the tile digest every tile check compares
TILE_DIGEST_SQL = ("z", "x", "y", "md5(tile_bytes) AS h", "n_features",
                   "length(tile_bytes) AS n")

# the shipped sf0.1 pages at z0-5: 1,345 tiles / 32,113 features /
# 1,878,984 bytes, from every build path
PINNED_SEED = {"tiles": 1345, "features": 32113, "bytes": 1878984}


def pip_pairs(doc_ids: np.ndarray, lon: np.ndarray, lat: np.ndarray,
              polys) -> set:
    """Brute force: every point against every polygon with the engine's
    exact predicate ``geometry.points_in_polygon`` (no cell prefilter)."""
    from tegola_spark.functions import wkb
    from tegola_spark.operators import geometry as geo

    pts = np.column_stack([lon, lat])
    out = set()
    for fid, geom in polys:
        hit = geo.points_in_polygon(pts, wkb.decode(bytes(geom)))
        out.update((int(d), int(fid)) for d in doc_ids[hit])
    return out


# --- MinHash LSH reference ------------------------------------------------
# A NumPy restatement of the engine's signature definition (5-byte
# shingles, polynomial hash + splitmix avalanche, 64 universal hashes
# mod 2^61-1 seeded with 0x5EED7E60), used to decide which pairs the
# banded LSH must report: a pair is expected when its signatures agree
# on a whole band and on >= threshold of all positions.

_MERSENNE = np.uint64((1 << 61) - 1)
_POLY_P = np.uint64(1099511628211)


def _hash_params(num_perm: int, seed: int = 0x5EED_7E60):
    rng = np.random.default_rng(seed)
    m = (1 << 61) - 1
    a = rng.integers(1, m, size=num_perm, dtype=np.int64).astype(np.uint64)
    b = rng.integers(0, m, size=num_perm, dtype=np.int64).astype(np.uint64)
    return a, b


def _shingles(text: str, k: int) -> np.ndarray:
    raw = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    if len(raw) == 0:
        return np.array([0], dtype=np.uint64)
    k = min(k, len(raw))
    powers = np.array([1], dtype=np.uint64)
    with np.errstate(over="ignore"):
        for _ in range(k - 1):
            powers = np.concatenate([powers[:1] * _POLY_P, powers])
        win = np.lib.stride_tricks.sliding_window_view(raw, k).astype(np.uint64)
        h = (win * powers[None, :]).sum(axis=1, dtype=np.uint64)
        h = h + np.uint64(0x9E3779B97F4A7C15)
        h = (h ^ (h >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        h = (h ^ (h >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        h = h ^ (h >> np.uint64(31))
    return np.unique(h)


def minhash_signature(text: str, num_perm: int = 64, k: int = 5) -> np.ndarray:
    a, b = _hash_params(num_perm)
    sh = _shingles(text, k)
    with np.errstate(over="ignore"):
        vals = (sh[:, None] * a[None, :] + b[None, :]) % _MERSENNE
    return vals.min(axis=0).astype(np.int64)


def expected_lsh_pairs(texts: dict, pairs, num_perm: int = 64,
                       bands: int = 8, threshold: float = 0.8) -> dict:
    """{(a, b): est_jaccard} for the pairs among ``pairs`` that banded
    LSH with these parameters must report."""
    rows = num_perm // bands
    sig = {i: minhash_signature(t, num_perm) for i, t in texts.items()}
    out = {}
    for a, b in pairs:
        sa, sb = sig[a], sig[b]
        eq = sa == sb
        est = float(eq.sum()) / num_perm
        banded = eq.reshape(bands, rows).all(axis=1).any()
        if banded and est >= threshold:
            out[(a, b)] = est
    return out
