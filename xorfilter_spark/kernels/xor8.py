"""Single-shard xor8 construction + probe as vectorized numpy kernels.

Semantics follow the reference builder (/root/reference/src/xor8/builder.rs:
137-334) and probe (/root/reference/src/xor8/filter.rs:166-176):

- capacity = 32 + ceil(1.23 n) rounded down to x3; block_length = capacity/3
- per retry: mix digests with the seed, scatter into 3 per-block
  (xor_mask, count) accumulator arrays, peel singletons, and succeed iff
  every key peels; otherwise draw the next splitmix64 seed and retry
  (seed chain starts at counter=1, exactly as the reference,
  src/xor8/builder.rs:144).
- fingerprint assignment in reverse peel order preserves the probe
  invariant f == fp[h0] ^ fp[h1] ^ fp[h2].

Implementation difference (documented, not semantic): the reference peels
one singleton at a time through three queues; we peel in *rounds* — all
currently-singleton slots at once, vectorized.  Peelability of a 3-uniform
hypergraph is order-independent (its 2-core is unique), so a seed succeeds
here iff it succeeds in the reference and the retry count matches; only the
internal peel order (and which of several candidate slots a key lands on)
may differ.  The probe invariant holds for any valid order.

Within one round no hazards exist: if slot s is singleton for key K, no
other remaining key uses s, so (a) two keys peeled in the same round have
distinct assigned slots, and (b) no key's *other* slots coincide with a
same-round assigned slot.  Hence both the removal scatter and the reverse
fingerprint assignment are safe as whole-round vector ops.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from ..hashing import (
    XOR8_RNG_COUNTER,
    fingerprint64,
    mixsplit,
    seed_sequence,
    xor8_geometry,
    xor8_hash_all,
)
from .probe import probe, shard_table


def _trio(hashes: np.ndarray, block_length: int) -> np.ndarray:
    """(3, n) global slot indices for each hash."""
    h0, h1, h2 = xor8_hash_all(hashes, block_length)
    trio = np.empty((3, hashes.size), dtype=np.int64)
    trio[0] = h0
    trio[1] = h1.astype(np.int64) + block_length
    trio[2] = h2.astype(np.int64) + 2 * block_length
    return trio


def _peel(digests: np.ndarray, seed: int, block_length: int):
    """One construction attempt.

    Returns (stack_hashes, stack_slots, round_sizes) in peel order, or
    (None, None, None) if the seed does not peel completely.

    Perf notes (~3x over the naive form): every key's slot trio is computed
    exactly ONCE; alongside the usual xor-of-hashes accumulator we keep an
    xor-of-key-indices accumulator, so a singleton slot yields its key's
    index directly — no re-hashing, no sort, no binary search anywhere;
    counts use ``bincount`` instead of ``ufunc.at``.
    """
    size = digests.size
    capacity = 3 * block_length
    fail = (None, None, None, None, None)
    if size == 0:
        e = np.empty(0, dtype=np.uint64)
        z = np.empty(0, dtype=np.int64)
        return e, np.empty((3, 0), dtype=np.int64), z, z, []

    h = mixsplit(digests, seed)
    slots = _trio(h, block_length)  # (3, size), computed once per attempt
    all_idx = np.arange(size, dtype=np.uint64)

    xor_mask = np.zeros(capacity, dtype=np.uint64)
    idx_mask = np.zeros(capacity, dtype=np.uint64)
    count = (
        np.bincount(slots[0], minlength=capacity)
        + np.bincount(slots[1], minlength=capacity)
        + np.bincount(slots[2], minlength=capacity)
    )
    for row in range(3):
        np.bitwise_xor.at(xor_mask, slots[row], h)
        np.bitwise_xor.at(idx_mask, slots[row], all_idx)

    stack_idx = np.empty(size, dtype=np.int64)
    stack_slot = np.empty(size, dtype=np.int64)
    stacked = 0
    round_sizes: list[int] = []

    candidates = np.nonzero(count == 1)[0]
    while candidates.size:
        single = candidates[count[candidates] == 1]
        if single.size == 0:
            break
        hashes = xor_mask[single]
        # singleton slot -> its xor-of-indices IS the key's index; validate
        # against the hash to catch 64-bit mixed-hash collisions (then the
        # attempt fails and the next splitmix64 seed retries, matching the
        # reference's retry loop semantics)
        idx = np.minimum(idx_mask[single], np.uint64(size - 1)).astype(np.int64)
        ok = h[idx] == hashes
        if not ok.all():
            return fail
        # a key can be singleton in 2-3 of its slots this round (and the
        # candidate list may carry duplicate slot ids): keep one per key.
        # pandas' hash-based duplicated() beats sort-based np.unique here.
        keep = ~pd.Series(idx).duplicated().to_numpy()
        if not keep.all():
            idx = idx[keep]
            single = single[keep]
            hashes = hashes[keep]
        n = idx.size

        if stacked + n > size:
            return fail
        stack_idx[stacked : stacked + n] = idx
        stack_slot[stacked : stacked + n] = single
        stacked += n
        round_sizes.append(n)

        t0, t1, t2 = slots[0, idx], slots[1, idx], slots[2, idx]
        if n * 8 > capacity:
            count -= (
                np.bincount(t0, minlength=capacity)
                + np.bincount(t1, minlength=capacity)
                + np.bincount(t2, minlength=capacity)
            )
        else:
            np.add.at(count, t0, -1)
            np.add.at(count, t1, -1)
            np.add.at(count, t2, -1)
        np.bitwise_xor.at(xor_mask, t0, hashes)
        np.bitwise_xor.at(xor_mask, t1, hashes)
        np.bitwise_xor.at(xor_mask, t2, hashes)
        u_idx = idx.astype(np.uint64)
        np.bitwise_xor.at(idx_mask, t0, u_idx)
        np.bitwise_xor.at(idx_mask, t1, u_idx)
        np.bitwise_xor.at(idx_mask, t2, u_idx)
        candidates = np.concatenate([t0, t1, t2])

    if stacked != size:
        return fail
    return h, slots, stack_idx, stack_slot, round_sizes


def _assign(
    h, slots, stack_idx, stack_slot, round_sizes, capacity: int, fp_bits: int = 8
) -> np.ndarray:
    """Reverse-round fingerprint assignment (vectorized per round)."""
    fp = np.zeros(capacity, dtype=np.uint8 if fp_bits == 8 else np.dtype("<u2"))
    n = stack_idx.size
    if n == 0:
        return fp
    t0 = slots[0, stack_idx]
    t1 = slots[1, stack_idx]
    t2 = slots[2, stack_idx]
    f8 = fingerprint64(h[stack_idx]).astype(fp.dtype)
    assigned = stack_slot
    mask0 = t0 == assigned
    mask1 = t1 == assigned
    oth0 = np.where(mask0, t1, t0)
    oth1 = np.where(mask0 | mask1, t2, t1)

    end = n
    for rs in reversed(round_sizes):
        sl = slice(end - rs, end)
        fp[assigned[sl]] = f8[sl] ^ fp[oth0[sl]] ^ fp[oth1[sl]]
        end -= rs
    return fp


def build_xor8(digests: np.ndarray, fp_bits: int = 8) -> dict:
    """Build one xor filter over (not-necessarily-unique) u64 digests.

    Returns dict(seed, block_length, fingerprints uint8[3*block_length],
    num_keys, retries).  Dedup happens here (the reference dedups in its
    builder's HashSet, src/xor8/builder.rs:90).

    ``fp_bits=16`` is the xor16 variant the north star names alongside
    xor8: identical peel/addressing (the peel is fingerprint-width-blind),
    16-bit truncation of the same fingerprint64, FPP~=2^-16 at
    ~19.7 bits/key.  The reference crate ships no xor16 (only fuse16); the
    construction follows the published xor-filter paper's w-bit
    generalization (Graf & Lemire 2020, §3).
    """
    if fp_bits not in (8, 16):
        raise ValueError("fp_bits must be 8 or 16")
    digests = np.unique(np.asarray(digests).astype(np.uint64))
    size = int(digests.size)
    capacity, block_length = xor8_geometry(size)
    seeds = seed_sequence(XOR8_RNG_COUNTER)

    retries = 0
    while True:
        seed = next(seeds)
        res = _peel(digests, seed, block_length)
        if res[0] is not None:
            break
        retries += 1

    h, slots, stack_idx, stack_slot, rounds = res
    fp = _assign(h, slots, stack_idx, stack_slot, rounds, capacity, fp_bits)
    return {
        "seed": int(seed),
        "block_length": int(block_length),
        "fingerprints": fp,
        "num_keys": size,
        "retries": retries,
    }


def lookup_xor8(digests: np.ndarray, seed: int, block_length: int, fingerprints: np.ndarray) -> np.ndarray:
    """Vectorized probe (reference src/xor8/filter.rs:166-176): the
    one-shard call of the shared probe kernel (``kernels.probe``)."""
    fp = np.asarray(fingerprints)
    if fp.dtype not in (np.dtype(np.uint8), np.dtype("<u2")):
        fp = fp.astype(np.uint8)
    return probe(shard_table(seed, fp, block_length=block_length), digests)
