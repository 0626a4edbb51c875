"""Independent pure-Python references the benchmark checks engine output
against.  None of these share code with the Spark engine.

* :func:`retract_seeds` applies a retraction made right after bootstrap to
  the seed list, so that :func:`csxj_crawler_spark.fixtures.simulator.simulate`
  over the seeds left is the reference of the retracted crawl.
* :func:`keep_first_brute_force` is the pHash near-duplicate prune rule
  evaluated over every pair, exactly or with the engine's banded candidate
  rule.
* :func:`union_find_clusters` labels documents by the transitive closure of a
  pair list.
"""

from __future__ import annotations

import zlib

import numpy as np

from csxj_crawler_spark import spec
from csxj_crawler_spark.fixtures.simulator import canon_py


def retraction_pick(queued_urls, n: int) -> list[str]:
    """Deterministic retraction batch: the ``n`` queued URLs with the
    smallest CRC-32 (URL as tie-break)."""
    return sorted(queued_urls, key=lambda u: (zlib.crc32(u.encode()), u))[:n]


def retract_seeds(seeds: list[dict], frac: float) -> tuple[list[str], list[dict]]:
    """A retraction right after bootstrap, when the frontier and the seen set
    are both the canonical seed URLs: the ``round(frac * |seen|)`` URLs it
    removes (by :func:`retraction_pick`), and the seed rows left, which the
    crawl that follows sees as if the removed URLs had never been seeds."""
    frontier = {canon_py(row["url"]) for row in seeds}
    picked = retraction_pick(frontier, round(frac * len(frontier)))
    gone = set(picked)
    return picked, [row for row in seeds if canon_py(row["url"]) not in gone]


# -- payload ------------------------------------------------------------------

_POPCOUNT8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def popcount64(x: np.ndarray) -> np.ndarray:
    """Bit count of each element of a 64-bit integer array."""
    b = np.ascontiguousarray(x).view(np.uint8).reshape(*x.shape, 8)
    return _POPCOUNT8[b].sum(axis=-1, dtype=np.int64)


def keep_first_brute_force(
    ids: list[str], phashes: list[int], t: int = spec.PHASH_HAMMING_T,
    band_bits: int | None = None, chunk: int = 256,
) -> set[str]:
    """Images kept by the keep-first rule: an image is dropped when an image
    with a smaller id lies within Hamming distance ``t``.  With
    ``band_bits``, a pair also has to agree exactly on at least one
    ``band_bits``-wide slice of the hash: the candidate rule of the engine's
    banded prune, whose recall is below 1 for ``t`` above 3."""
    order = np.argsort(np.asarray(ids, dtype=object), kind="stable")
    sid = [ids[i] for i in order]
    h = np.asarray(phashes, dtype=np.int64)[order].view(np.uint64)
    n = len(sid)
    kept: set[str] = set()
    for lo in range(0, n, chunk):
        hi = min(n, lo + chunk)
        x = h[lo:hi, None] ^ h[None, :hi]  # (rows, cols < hi)
        near = popcount64(x) <= t
        if band_bits:
            mask = np.uint64((1 << band_bits) - 1)
            shared = np.zeros(x.shape, dtype=bool)
            for k in range(64 // band_bits):
                shared |= ((x >> np.uint64(k * band_bits)) & mask) == 0
            near &= shared
        for r in range(lo, hi):
            if not near[r - lo, :r].any():
                kept.add(sid[r])
    return kept


def union_find_clusters(doc_ids, pairs) -> dict[int, int]:
    """``doc_id -> cluster_id`` (smallest member id) over the closure of
    ``pairs``; unpaired documents are their own cluster."""
    parent = {d: d for d in doc_ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {d: find(d) for d in doc_ids}
