"""Single-shard binary-fuse filter (fuse8 / fuse16) numpy kernels.

Semantics follow the reference construction (/root/reference/src/fuse8.rs:
317-518 and src/fuse16.rs equivalents) and probe (src/fuse8.rs:543-551):

- segment geometry from the key count (src/fuse8.rs:217-259, incl. the u32
  wrapping math for the 0/1-key degenerate sizes)
- seed chain: splitmix64 starting at counter 0x726b2b9d438b9d4d
  (src/fuse8.rs:331), at most 100 retries then a hard error
  "Too many iterations. Are all your keys unique?" (src/fuse8.rs:26,356-359)
- scatter: each key's mixed hash lands in `arity` slots (3 by default;
  4-wise supported — the reference carries the arity-4 geometry formulas,
  src/fuse8.rs:80-84,101-103, but no 4-wise kernel, so the 4-wise
  addressing is our extension, see hashing.fuse4_hash_all); a slot tracks
  (count, xor-of-positions, xor-of-hashes); overflow of the reference's
  packed u8 counter (>= 64 keys in a slot) forces a reseed exactly as the
  reference's `t2count[h] < 4` latch does
- peel singleton slots; success iff every distinct hash peels
- reverse-order fingerprint assignment

Documented deviations (behavior-preserving at the API level):

1. The reference packs count and orientation into one u8 and stores hashes
   through a segment-grouped counting sort (src/fuse8.rs:362-379) for cache
   locality; we keep three flat arrays and skip the sort — the hypergraph
   (and therefore peelability per seed, i.e. the retry count) is identical.
2. The reference fuse8 cancels duplicate *hashes* on the fly during scatter
   (src/fuse8.rs:400-418) because its builder never dedups; we dedup
   digests upfront (mixsplit is a bijection, so distinct digests never
   collide post-mix) and report the removed count as `duplicates` lineage.
   Fuse16's reference behavior (BTreeMap dedup upstream) is matched exactly.
3. Peeling runs in vectorized rounds instead of one-at-a-time; order
   independence of peeling makes this observationally equivalent.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..hashing import (
    FUSE_RNG_COUNTER,
    fingerprint64,
    fuse4_hash_all,
    fuse_geometry,
    fuse_hash_all,
    mixsplit,
    seed_sequence,
)
from .probe import probe, shard_table

MAX_ITERATIONS = 100  # reference src/fuse8.rs:26


class FuseBuildError(RuntimeError):
    """Raised after MAX_ITERATIONS failed seeds (duplicate-heavy input)."""


def _mod3(x: np.ndarray) -> np.ndarray:
    return np.where(x > 2, x - 3, x)


def _slots(hashes: np.ndarray, geom: dict, arity: int) -> np.ndarray:
    """(arity, n) slot indices via the batch addressing
    (src/fuse8.rs:182-191 for 3-wise; fuse4_hash_all for 4-wise)."""
    hs = fuse_hash_all(hashes, geom) if arity == 3 else fuse4_hash_all(hashes, geom)
    out = np.empty((arity, hashes.size), dtype=np.int64)
    for i, h in enumerate(hs):
        out[i] = h
    return out


def _peel(hashes: np.ndarray, geom: dict, arity: int = 3):
    """One construction attempt over pre-mixed (unique) hashes.

    Returns (stack_idx, stack_found, round_sizes, slots) or the fail tuple.

    Perf notes (mirrors kernels/xor8.py): each key's slot tuple is computed
    exactly once; alongside the xor-of-hashes accumulator an
    xor-of-key-indices accumulator lets a singleton slot yield its key's
    index directly — no sort, no binary search, no re-hashing.  The
    orientation accumulator XORs each key's row constant (0..arity-1) into
    its slots; every add/remove pair cancels, so a singleton slot's residual
    IS the remaining key's row — valid for any arity.
    """
    size = hashes.size
    capacity = geom["array_length"]
    fail = (None, None, None, None)
    if size == 0:
        z = np.empty(0, dtype=np.int64)
        return z, z, [], np.empty((arity, 0), dtype=np.int64)

    slots = _slots(hashes, geom, arity)
    all_idx = np.arange(size, dtype=np.uint64)

    cnt = np.zeros(capacity, dtype=np.int64)
    for row in range(arity):
        cnt += np.bincount(slots[row], minlength=capacity)
    if cnt.max() >= 64:
        # the reference's packed u8 counter would have wrapped -> reseed
        return fail
    ori = np.zeros(capacity, dtype=np.uint8)
    for row in range(1, arity):
        np.bitwise_xor.at(ori, slots[row], np.uint8(row))
    hagg = np.zeros(capacity, dtype=np.uint64)
    iagg = np.zeros(capacity, dtype=np.uint64)
    for row in range(arity):
        np.bitwise_xor.at(hagg, slots[row], hashes)
        np.bitwise_xor.at(iagg, slots[row], all_idx)

    stack_idx = np.empty(size, dtype=np.int64)
    stack_found = np.empty(size, dtype=np.int64)
    stacked = 0
    round_sizes: list[int] = []

    candidates = np.nonzero(cnt == 1)[0]
    while candidates.size:
        single = candidates[cnt[candidates] == 1]
        if single.size == 0:
            break
        kh = hagg[single]
        # singleton slot -> xor-of-indices IS the key index; validate against
        # the hash (collision -> fail -> next seed, the reference retry loop)
        idx = np.minimum(iagg[single], np.uint64(size - 1)).astype(np.int64)
        if not (hashes[idx] == kh).all():
            return fail
        # a key can be singleton in several slots (and `candidates` may carry
        # duplicate slot ids): keep one entry per key (hash-based dedup)
        keep = ~pd.Series(idx).duplicated().to_numpy()
        if not keep.all():
            idx = idx[keep]
            single = single[keep]
            kh = kh[keep]
        found = ori[single].astype(np.int64)
        n = idx.size
        if stacked + n > size:
            return fail

        stack_idx[stacked : stacked + n] = idx
        stack_found[stacked : stacked + n] = found
        stacked += n
        round_sizes.append(n)

        # remove each peeled key from all of its slots; the assigned slot
        # simply drops 1 -> 0 and never re-enters the queue
        u_idx = idx.astype(np.uint64)
        touched = []
        for row in range(arity):
            tr = slots[row, idx]
            np.add.at(cnt, tr, -1)
            np.bitwise_xor.at(hagg, tr, kh)
            np.bitwise_xor.at(iagg, tr, u_idx)
            if row:
                np.bitwise_xor.at(ori, tr, np.uint8(row))
            touched.append(tr)
        candidates = np.concatenate(touched)

    if stacked != size:
        return fail
    return stack_idx, stack_found, round_sizes, slots


def _assign(hashes, slots, stack_idx, stack_found, round_sizes, geom: dict,
            fp_dtype, arity: int = 3) -> np.ndarray:
    fp = np.zeros(geom["array_length"], dtype=fp_dtype)
    n = stack_idx.size
    if n == 0:
        return fp
    f = fingerprint64(hashes[stack_idx]).astype(fp_dtype)
    st = slots[:, stack_idx]  # (arity, n) rows are positions 0..arity-1
    cols = np.arange(n)
    own = st[stack_found, cols]
    mod = _mod3 if arity == 3 else (lambda x: x % arity)
    others = [st[mod(stack_found + j), cols] for j in range(1, arity)]
    end = n
    for rs in reversed(round_sizes):
        sl = slice(end - rs, end)
        acc = f[sl]
        for o in others:
            acc = acc ^ fp[o[sl]]
        fp[own[sl]] = acc
        end -= rs
    return fp


def build_fuse(digests: np.ndarray, fp_bits: int = 8, arity: int = 3) -> dict:
    """Build one binary-fuse filter (fp_bits 8 or 16; arity 3 or 4) over
    u64 digests.  Arity 4 trades ~2x the construction work for ~1.075x
    space overhead vs 3-wise 1.125x (~8.6 vs ~9.1 bits/key for fp8) —
    geometry formulas from the reference (src/fuse8.rs:80-84,101-103),
    addressing per ``hashing.fuse4_hash_all``."""
    if fp_bits not in (8, 16):
        raise ValueError("fp_bits must be 8 or 16")
    if arity not in (3, 4):
        raise ValueError("arity must be 3 or 4")
    raw = np.asarray(digests).astype(np.uint64)
    uniq = np.unique(raw)
    size = int(uniq.size)
    duplicates = int(raw.size - size)
    geom = fuse_geometry(size, arity)
    seeds = seed_sequence(FUSE_RNG_COUNTER)
    fp_dtype = np.uint8 if fp_bits == 8 else np.uint16

    retries = 0
    for _ in range(MAX_ITERATIONS + 1):
        seed = next(seeds)
        hashes = mixsplit(uniq, seed)
        stack_idx, stack_found, rounds, slots = _peel(hashes, geom, arity)
        if stack_idx is not None:
            fp = _assign(hashes, slots, stack_idx, stack_found, rounds, geom,
                         fp_dtype, arity)
            return {
                "seed": int(seed),
                "segment_length": geom["segment_length"],
                "segment_count": geom["segment_count"],
                "fingerprints": fp,
                "num_keys": size,
                "retries": retries,
                "duplicates": duplicates,
                "fp_bits": fp_bits,
                "arity": arity,
            }
        retries += 1
    raise FuseBuildError("Too many iterations. Are all your keys unique?")


def lookup_fuse(digests: np.ndarray, seed: int, segment_length: int,
                segment_count: int, fingerprints: np.ndarray,
                arity: int = 3) -> np.ndarray:
    """Vectorized probe (reference src/fuse8.rs:543-551; 4-wise adds one
    more fingerprint gather): the one-shard call of the shared probe
    kernel (``kernels.probe``)."""
    return probe(
        shard_table(seed, fingerprints, segment_length=segment_length,
                    segment_count=segment_count, arity=arity),
        digests,
    )
