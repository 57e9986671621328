"""Document hashing / sketching kernels — MinHash, SimHash, shingles.

These are the training-data-pipeline additions (web-scale dedup) the
engine layers on top of the reference's spatial operators. Hot paths are
numpy-vectorized: tokens are FNV-hashed once via a per-process cache, and
shingle/minhash/simhash math runs as uint64 array arithmetic (natural 2^64
wraparound), so the per-document cost is O(tokens) python + O(tokens×k)
numpy instead of per-character python loops.
"""

from __future__ import annotations

import re

import numpy as np

_TOKEN_RE = re.compile(r"[a-z0-9]+")
_FNV_OFFSET = np.uint64(1469598103934665603)
_FNV_PRIME = np.uint64(1099511628211)

_token_cache: dict[str, int] = {}


def _fnv(token: str) -> int:
    h = 1469598103934665603
    for ch in token.encode("utf-8"):
        h = ((h ^ ch) * 1099511628211) % (1 << 64)
    return h


def _token_hashes(text: str) -> np.ndarray:
    """uint64 FNV hash per token, cached across calls (vocabulary is far
    smaller than the corpus)."""
    toks = _TOKEN_RE.findall(text.lower())
    cache = _token_cache
    out = np.empty(len(toks), dtype=np.uint64)
    for i, t in enumerate(toks):
        h = cache.get(t)
        if h is None:
            if len(cache) > 2_000_000:  # bound executor memory
                cache.clear()
            h = _fnv(t)
            cache[t] = h
        out[i] = h
    return out


# fixed odd multipliers combining the k token hashes of a shingle
_SHINGLE_MULT = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9,
     0x27D4EB2F165667C5, 0x85EBCA77C2B2AE63, 0x2545F4914F6CDD1D,
     0x9E3779B97F4A7C55, 0xC2B2AE3D27D4EBAF],
    dtype=np.uint64,
)


def shingle_hashes(text: str, k: int = 5) -> np.ndarray:
    """Sorted unique 64-bit hashes of the k-token shingles of `text`
    (lowercase alphanumeric tokenization). Vectorized: shingle hash =
    Σ_j mult_j · token_hash[i+j] (mod 2^64)."""
    th = _token_hashes(text)
    if len(th) < k:
        th = np.concatenate([th, np.zeros(k - len(th), dtype=np.uint64)])
    n = len(th) - k + 1
    acc = np.zeros(n, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for j in range(k):
            acc += th[j : j + n] * _SHINGLE_MULT[j % len(_SHINGLE_MULT)]
    return np.unique(acc)


_PERM_CACHE: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}


def _perms(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (a, b) permutation arrays, built once per process — rebuilding
    them per document was the dominant cost of the round-1 kernel."""
    key = (num_perm, seed)
    p = _PERM_CACHE.get(key)
    if p is None:
        rng = np.random.RandomState(seed)
        a = (
            rng.randint(1, (1 << 62), size=num_perm).astype(np.uint64) * np.uint64(2)
            + np.uint64(1)
        )
        b = rng.randint(0, (1 << 62), size=num_perm).astype(np.uint64)
        _PERM_CACHE[key] = p = (a, b)
    return p


def minhash_signatures_batch(
    shingle_sets: list[np.ndarray], num_perm: int = 64, seed: int = 1
) -> np.ndarray:
    """(n_docs, num_perm) signatures for a whole Arrow batch: one
    concatenated array + segmented minima (num_perm vectorized passes over
    the batch instead of one numpy call per document)."""
    a, b = _perms(num_perm, seed)
    n = len(shingle_sets)
    if n == 0:
        return np.empty((0, num_perm), dtype=np.uint64)
    lens = np.array([len(s) for s in shingle_sets], dtype=np.int64)
    # shingle_hashes pads, so every set is non-empty; guard anyway
    empty = lens == 0
    if empty.any():
        shingle_sets = [
            s if len(s) else np.array([0], dtype=np.uint64) for s in shingle_sets
        ]
        lens = np.maximum(lens, 1)
    flat = np.concatenate(shingle_sets)
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=starts[1:])
    out = np.empty((n, num_perm), dtype=np.uint64)
    with np.errstate(over="ignore"):
        for p in range(num_perm):
            out[:, p] = np.minimum.reduceat(flat * a[p] + b[p], starts)
    if empty.any():
        out[empty] = np.iinfo(np.uint64).max
    return out


def lsh_band_keys_batch(sigs: np.ndarray, bands: int = 16) -> np.ndarray:
    """(n_docs, bands) int64 band keys for a batch of signatures — the FNV
    fold runs vectorized across (docs, bands); congruence note: the scalar
    path computes (h·32 | band) mod 2^63 over unbounded ints, and because
    2^63 divides 2^64 the uint64-wrapped (h<<5 | band) & (2^63-1) is the
    same value."""
    n, num_perm = sigs.shape
    rows = num_perm // bands
    banded = sigs.reshape(n, bands, rows)
    h = np.full((n, bands), _FNV_OFFSET, dtype=np.uint64)
    with np.errstate(over="ignore"):
        for r in range(rows):
            h = (h ^ banded[:, :, r]) * _FNV_PRIME
        keys = ((h << np.uint64(5)) | np.arange(bands, dtype=np.uint64)[None, :]) & np.uint64(
            (1 << 63) - 1
        )
    return keys.astype(np.int64)


def simhash(text: str, bits: int = 64) -> int:
    """Charikar SimHash over word unigrams (FNV token hashes), unweighted.
    Vectorized bit counting."""
    th = _token_hashes(text)
    if len(th) == 0:
        return 0
    shifts = np.arange(bits, dtype=np.uint64)
    bitmat = (th[:, None] >> shifts[None, :]) & np.uint64(1)
    acc = (2 * bitmat.astype(np.int64) - 1).sum(axis=0)
    v = 0
    for bpos in range(bits):
        if acc[bpos] > 0:
            v |= 1 << bpos
    return v & ((1 << 63) - 1)  # keep in signed-long range for Spark


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def jaccard(a: np.ndarray, b: np.ndarray) -> float:
    """Exact Jaccard of two sorted-unique shingle-hash sets."""
    if len(a) == 0 and len(b) == 0:
        return 1.0
    inter = len(np.intersect1d(a, b, assume_unique=True))
    return inter / (len(a) + len(b) - inter)


_FP_TABLES: dict[tuple[int, int, int], np.ndarray] = {}


def _fp_table(window: int, base: int, mod: int) -> np.ndarray:
    """(window, 256) table of (byte · base^(window-1-j)) mod p — turns the
    windowed polynomial into pure uint64 gather+add."""
    key = (window, base, mod)
    t = _FP_TABLES.get(key)
    if t is None:
        pows = [pow(base, window - 1 - j, mod) for j in range(window)]
        t = np.array(
            [[(b * p) % mod for b in range(256)] for p in pows], dtype=np.uint64
        )
        _FP_TABLES[key] = t
    return t


def rolling_fingerprint(text: str, window: int = 16, mod: int = (1 << 61) - 1,
                        base: int = 257) -> int:
    """Document fingerprint: minimum polynomial rolling hash over all
    `window`-byte substrings (Rabin–Karp / winnowing-style).

    Vectorized with exact mod-p parity to the naive definition
    H[i] = Σ_j data[i+j]·base^(w-1-j) mod p: per-position (byte, power)
    products come from a precomputed lookup table (each < 2^61), so sums
    stay below 2^64 for up to 8 terms — reduce mod p every 7 additions."""
    data = np.frombuffer(text.encode("utf-8"), dtype=np.uint8)
    n = len(data)
    if n == 0:
        return 0
    if n <= window:
        h = 0
        for b in data.tolist():
            h = (h * base + int(b)) % mod
        return h
    tbl = _fp_table(window, base, mod)
    nw = n - window + 1
    acc = np.zeros(nw, dtype=np.uint64)
    m = np.uint64(mod)
    for j in range(window):
        acc += tbl[j][data[j : j + nw]]
        if (j + 1) % 7 == 0:
            acc %= m
    acc %= m
    return int(acc.min())
