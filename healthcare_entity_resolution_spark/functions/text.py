"""Text-feature kernels: tokenization, shingles, MinHash, SimHash, TF cosine.

Deterministic by construction (no PYTHONHASHSEED dependence — all hashing is
crc32/md5-derived), so results are identical across executors and runs.
Everything here operates on numpy arrays / Python lists *inside* Arrow-batched
pandas UDFs; see operators/blocking.py and operators/scoring.py.

MinHash/LSH follows the standard banding construction (Leskovec, Rajaraman,
Ullman — "Mining of Massive Datasets" ch.3): k permutations
h_i(x) = (a_i * x + b_i) mod p over token hashes, split into b bands of r
rows; documents sharing any band bucket become candidates.
"""

from __future__ import annotations

import hashlib
import re
import zlib

import numpy as np

MERSENNE_P = (1 << 61) - 1
_TOKEN_RE = re.compile(r"[A-Za-z0-9_]+")


def token_hashes(text: str) -> np.ndarray:
    """Distinct 32-bit hashes of word tokens (crc32 — C-speed, seedless)."""
    toks = set(_TOKEN_RE.findall(text.lower()))
    if not toks:
        return np.empty(0, dtype=np.uint64)
    return np.fromiter(
        (zlib.crc32(t.encode("utf-8")) for t in toks), dtype=np.uint64, count=len(toks)
    )


def shingle_hashes(text: str, k: int = 3) -> np.ndarray:
    """Distinct k-byte character shingle ids, fully vectorized.

    Encodes the text to bytes and combines each k-window into an integer via
    a stride trick + dot product — no per-shingle Python loop.

    k <= 8: exact little-endian byte encoding (INJECTIVE — distinct windows
    get distinct ids; the decontamination oracle relies on this).  k > 8:
    FNV-prime polynomial hash mod 2^64 — a shift by ``j*8 >= 64`` bits is
    undefined for uint64 (it silently wraps the shift count, collapsing
    every weight past byte 7 and making long shingles collide en masse;
    caught when k=20 decontamination flagged 100% of a corpus whose true
    overlap was bimodal at ~0 and 1)."""
    b = np.frombuffer(text.lower().encode("utf-8", errors="ignore"), dtype=np.uint8)
    if b.size < k:
        return np.unique(b.astype(np.uint64))
    windows = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
    if k <= 8:
        weights = (np.uint64(1) << (np.arange(k, dtype=np.uint64) * np.uint64(8)))
    else:
        m = 1099511628211  # FNV-1a 64-bit prime
        weights = np.array(
            [pow(m, k - 1 - j, 1 << 64) for j in range(k)], dtype=np.uint64
        )
    with np.errstate(over="ignore"):  # uint64 wrap IS the mod-2^64 hash
        return np.unique(windows @ weights)


def _perm_params(num_perm: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(42)
    a = rng.randint(1, MERSENNE_P, size=num_perm, dtype=np.uint64)
    b = rng.randint(0, MERSENNE_P, size=num_perm, dtype=np.uint64)
    return a, b


_PERM_CACHE: dict[int, tuple[np.ndarray, np.ndarray]] = {}


def minhash_signature(hashes: np.ndarray, num_perm: int = 64) -> np.ndarray:
    """MinHash signature (num_perm uint64) over a set of element hashes; the
    permutations are seeded (42), so signatures agree across processes."""
    if num_perm not in _PERM_CACHE:
        _PERM_CACHE[num_perm] = _perm_params(num_perm)
    a, b = _PERM_CACHE[num_perm]
    if hashes.size == 0:
        return np.full(num_perm, MERSENNE_P, dtype=np.uint64)
    # (num_perm, n) — modular arithmetic in object-free uint64 with wraparound
    # is fine because we only need a consistent pseudo-permutation, not exact
    # modular math; use modulo against the Mersenne prime in float-free int64 space.
    prod = (hashes[None, :] * a[:, None] + b[:, None]) % np.uint64(MERSENNE_P)
    return prod.min(axis=1)


def lsh_band_keys(sig: np.ndarray, bands: int = 16) -> list[int]:
    """Hash each band of the signature to a non-negative bucket key.

    Key = ``(band_index << 32) | crc32(band bytes)``: the band index in the
    high bits keeps different bands out of each other's bucket space, and
    the key is below ``bands * 2**32`` (2**36 at 16 bands), so it fits a
    signed LongType column as is.
    """
    rows = sig.shape[0] // bands
    keys = []
    for i in range(bands):
        band = sig[i * rows : (i + 1) * rows]
        keys.append((i << 32) | zlib.crc32(band.tobytes()))
    return keys


def simhash64(hashes: np.ndarray) -> int:
    """64-bit SimHash (Charikar 2002) over element hashes, each of weight 1,
    vectorized."""
    if hashes.size == 0:
        return 0
    h64 = np.empty(hashes.size, dtype=np.uint64)
    for i, h in enumerate(hashes):  # md5-extend 32->64 bits, C-speed digest
        h64[i] = int.from_bytes(
            hashlib.md5(int(h).to_bytes(8, "little")).digest()[:8], "little"
        )
    bits = ((h64[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(
        np.int64
    )
    sums = (bits * 2 - 1).sum(axis=0)
    out = np.uint64(0)
    for bit in range(64):
        if sums[bit] > 0:
            out |= np.uint64(1) << np.uint64(bit)
    return int(out)


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


def jaccard(h1: np.ndarray, h2: np.ndarray) -> float:
    """Exact Jaccard of two distinct-hash arrays."""
    if h1.size == 0 and h2.size == 0:
        return 1.0
    if h1.size == 0 or h2.size == 0:
        return 0.0
    inter = np.intersect1d(h1, h2, assume_unique=True).size
    return inter / float(h1.size + h2.size - inter)


def tf_cosine(h1: np.ndarray, c1: np.ndarray, h2: np.ndarray, c2: np.ndarray) -> float:
    """Cosine of two sparse TF vectors given (ids, counts) pairs (ids sorted)."""
    if h1.size == 0 or h2.size == 0:
        return 0.0
    inter, i1, i2 = np.intersect1d(h1, h2, assume_unique=True, return_indices=True)
    if inter.size == 0:
        return 0.0
    dot = float((c1[i1].astype(np.float64) * c2[i2].astype(np.float64)).sum())
    n1 = float(np.sqrt((c1.astype(np.float64) ** 2).sum()))
    n2 = float(np.sqrt((c2.astype(np.float64) ** 2).sum()))
    return dot / (n1 * n2)


def sorted_jaccard(h1: np.ndarray, h2: np.ndarray) -> float:
    """Jaccard of two SORTED distinct-hash arrays via searchsorted — ~2x
    faster than np.intersect1d (which re-sorts the concatenation)."""
    if h1.size == 0 and h2.size == 0:
        return 1.0
    if h1.size == 0 or h2.size == 0:
        return 0.0
    if h1.size > h2.size:
        h1, h2 = h2, h1
    idx = np.searchsorted(h2, h1)
    idx[idx == h2.size] = h2.size - 1
    inter = int((h2[idx] == h1).sum())
    return inter / float(h1.size + h2.size - inter)


def sorted_tf_cosine_prenorm(
    h1: np.ndarray, c1: np.ndarray, n1: float,
    h2: np.ndarray, c2: np.ndarray, n2: float,
) -> float:
    """TF cosine with precomputed L2 norms over sorted (ids, counts)."""
    if h1.size == 0 or h2.size == 0:
        return 0.0
    if h1.size > h2.size:
        h1, c1, h2, c2 = h2, c2, h1, c1
    idx = np.searchsorted(h2, h1)
    idx[idx == h2.size] = h2.size - 1
    hit = h2[idx] == h1
    if not hit.any():
        return 0.0
    dot = float((c1[hit].astype(np.float64) * c2[idx[hit]].astype(np.float64)).sum())
    return dot / (n1 * n2)


def shingle_tf(text: str, k: int = 3) -> tuple[np.ndarray, np.ndarray]:
    """(sorted shingle ids, counts) for TF-cosine."""
    b = np.frombuffer(text.lower().encode("utf-8", errors="ignore"), dtype=np.uint8)
    if b.size < k:
        ids, counts = np.unique(b.astype(np.uint64), return_counts=True)
        return ids, counts
    windows = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
    weights = (np.uint64(1) << (np.arange(k, dtype=np.uint64) * np.uint64(8)))
    return np.unique(windows @ weights, return_counts=True)


def rolling_fingerprint(text: str) -> int:
    """Deterministic 64-bit document fingerprint: min crc over 32-byte
    windows (winnowing-style min-sampling, Schleimer et al. 2003
    simplified)."""
    window = 32
    data = text.encode("utf-8", errors="ignore")
    if len(data) <= window:
        return zlib.crc32(data)
    best = 0xFFFFFFFF
    step = max(1, window // 4)
    for i in range(0, len(data) - window + 1, step):
        h = zlib.crc32(data[i : i + window])
        if h < best:
            best = h
    return best
