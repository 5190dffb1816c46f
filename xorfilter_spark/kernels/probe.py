"""The one membership probe for every filter variant, and the bank's load
boundary.

A bank (one row per hash-prefix shard) or a single filter is flattened into
a *table*: per-shard parallel numpy arrays (seed, fingerprint offset,
geometry) plus ONE concatenated fingerprint buffer.  ``probe`` maps each
digest to its shard by the top digest bits, gathers that shard's seed and
geometry per row and addresses the fingerprints through the same
``hashing`` functions the build peel uses (``xor8_hash_all`` /
``fuse_hash_all`` / ``fuse4_hash_all``), so the broadcast ``contains``, the
cogroup ``contains_join`` and the single-filter ``lookup_xor8`` /
``lookup_fuse`` share one address computation (reference probes:
src/xor8/filter.rs:166-176, src/fuse8.rs:543-551).  A mixed-shard batch is
one vectorized pass: no sort, no per-shard slicing, no Python loop.

``flatten`` refuses rows it cannot probe correctly — a fingerprint count
that disagrees with the shard's own geometry, a repeated or out-of-range
shard id, rows that disagree on the bank metadata — with a ``ValueError``
naming the shard.  With the geometry checked, every gather stays inside its
own shard's slice, so a malformed bank can never answer "not a member".
"""

from __future__ import annotations

import numpy as np

from ..hashing import (
    MASK32,
    MASK64,
    fingerprint64,
    fuse4_hash_all,
    fuse_hash_all,
    murmur64,
    xor8_hash_all,
)

VARIANTS = ("xor8", "xor16", "fuse8", "fuse16", "fuse8x4", "fuse16x4")

# bank-wide fields every shard row must agree on
META = ("num_shards", "variant", "fp_bits", "hash_strategy")

_XOR_GEOM = {"block_length": np.uint64}
_FUSE_GEOM = {
    "segment_length": np.uint32,
    "segment_length_mask": np.uint32,
    "segment_count_length": np.uint64,
}


def variant_params(variant: str) -> tuple[bool, int, int]:
    """(is_xor, fp_bits, arity) for a variant name."""
    if variant not in VARIANTS:
        raise ValueError(f"variant must be one of {VARIANTS}, got {variant!r}")
    return (
        variant.startswith("xor"),
        8 if variant in ("xor8", "fuse8", "fuse8x4") else 16,
        4 if variant.endswith("x4") else 3,
    )


def _geometry(is_xor: bool, block_length=None, segment_length=None,
              segment_count=None) -> dict:
    if is_xor:
        return {"block_length": int(block_length)}
    sl = int(segment_length)
    return {
        "segment_length": sl,
        "segment_length_mask": sl - 1,
        "segment_count_length": int(segment_count) * sl,
    }


def _table(num_shards: int, is_xor: bool, arity: int, shards) -> dict:
    """Pack ``shards`` — a non-empty list of (shard id, u64 seed,
    fingerprint array, geometry) tuples — into a probe table.  Absent
    shards keep zero geometry, so their gathers stay at slot 0 and
    ``present`` answers False."""
    fields = _XOR_GEOM if is_xor else _FUSE_GEOM
    geom = {f: np.zeros(num_shards, dtype=t) for f, t in fields.items()}
    seed = np.zeros(num_shards, dtype=np.uint64)
    off = np.zeros(num_shards, dtype=np.int64)
    present = np.zeros(num_shards, dtype=bool)
    chunks = []
    pos = 0
    for s, sd, fp, g in sorted(shards, key=lambda t: t[0]):
        seed[s] = sd
        off[s] = pos
        present[s] = True
        for f in fields:
            geom[f][s] = g[f]
        chunks.append(fp)
        pos += fp.size
    return {
        "k": num_shards.bit_length() - 1,
        "xor": is_xor,
        "arity": arity,
        "seed": seed,
        "off": off,
        "present": present,
        "geom": geom,
        "fp": chunks[0] if len(chunks) == 1 else np.concatenate(chunks),
    }


def shard_table(seed: int, fingerprints: np.ndarray, block_length=None,
                segment_length=None, segment_count=None, arity: int = 3) -> dict:
    """Probe table of ONE filter: xor when ``block_length`` is given,
    binary fuse (``segment_length``/``segment_count``/``arity``) otherwise."""
    is_xor = block_length is not None
    fp = np.asarray(fingerprints)
    g = _geometry(is_xor, block_length, segment_length, segment_count)
    return _table(1, is_xor, arity, [(0, int(seed) & MASK64, fp, g)])


def check_meta(rows) -> dict:
    """Validate the bank-wide fields of ``rows`` (any mapping with ``shard``
    plus ``META``; fingerprints not needed) and return them.  Raises
    ``ValueError`` if rows disagree on a field, a shard id repeats or lies
    outside ``[0, num_shards)``, or the metadata itself is malformed."""
    rows = list(rows)
    if not rows:
        raise ValueError("bank has no shard rows")
    meta = {f: rows[0][f] for f in META}
    seen = set()
    for r in rows:
        s = int(r["shard"])
        for f in META:
            if r[f] != meta[f]:
                raise ValueError(
                    f"shard {s}: {f}={r[f]!r} disagrees with {f}={meta[f]!r} "
                    "elsewhere in the same bank"
                )
        if s in seen:
            raise ValueError(f"shard {s} appears more than once in the bank")
        seen.add(s)
    num_shards = int(meta["num_shards"])
    if num_shards < 1 or num_shards & (num_shards - 1):
        raise ValueError(f"num_shards={num_shards} is not a power of two")
    bad = [s for s in seen if not 0 <= s < num_shards]
    if bad:
        raise ValueError(f"shard {min(bad)} lies outside [0, {num_shards})")
    _, fp_bits, _ = variant_params(meta["variant"])
    if int(meta["fp_bits"]) != fp_bits:
        raise ValueError(
            f"fp_bits={meta['fp_bits']} disagrees with variant {meta['variant']!r}"
        )
    return meta


def _shard_geometry(r, is_xor: bool, arity: int, itemsize: int) -> dict:
    """The row's geometry, checked for bounds-safe addressing and against
    its fingerprint byte count."""
    s = int(r["shard"])
    names = ("block_length",) if is_xor else ("segment_length", "segment_count")
    vals = {}
    for f in names:
        v = r[f]
        if v is None or v != v or int(v) < 1:  # None / NaN / non-positive
            raise ValueError(f"shard {s}: invalid {f}={v!r}")
        vals[f] = int(v)
    g = _geometry(is_xor, **vals)
    if is_xor:
        slots = 3 * g["block_length"]
        if g["block_length"] > MASK32:
            raise ValueError(f"shard {s}: block_length {g['block_length']} >= 2**32")
    else:
        sl = g["segment_length"]
        if sl & (sl - 1):
            raise ValueError(f"shard {s}: segment_length {sl} is not a power of two")
        if g["segment_count_length"] > MASK32:
            raise ValueError(f"shard {s}: segment_count * segment_length >= 2**32")
        slots = g["segment_count_length"] + (arity - 1) * sl
    nbytes = len(r["fingerprints"])
    if nbytes != slots * itemsize:
        raise ValueError(
            f"shard {s}: {nbytes} fingerprint bytes, but its geometry implies "
            f"{slots} slots x {itemsize} B = {slots * itemsize}"
        )
    return g


def flatten(rows) -> dict:
    """Validated probe table of a bank's shard rows (Spark ``Row``s or
    dicts with the ``BANK_SCHEMA`` fields).  The table also carries the
    bank's ``hash_strategy``, which its probes must digest with."""
    rows = list(rows)
    meta = check_meta(rows)
    is_xor, fp_bits, arity = variant_params(meta["variant"])
    dtype = np.dtype(np.uint8 if fp_bits == 8 else "<u2")
    shards = []
    for r in rows:
        g = _shard_geometry(r, is_xor, arity, dtype.itemsize)
        fp = np.frombuffer(r["fingerprints"], dtype=dtype)
        shards.append((int(r["shard"]), int(r["seed"]) & MASK64, fp, g))
    table = _table(int(meta["num_shards"]), is_xor, arity, shards)
    table["hash_strategy"] = meta["hash_strategy"]
    return table


def probe(table: dict, digests: np.ndarray) -> np.ndarray:
    """Membership of u64 (or int64-typed) ``digests`` in a probe table."""
    u = np.asarray(digests).astype(np.uint64)
    k = table["k"]
    if k:
        s = (u >> np.uint64(64 - k)).astype(np.intp)
        at = lambda a: a[s]  # per-row gather of the row's shard parameter
    else:
        at = lambda a: a[0]  # one shard: scalars broadcast over the batch
    h = murmur64(u + at(table["seed"]))  # mixsplit with the shard's seed
    geom = {f: at(a) for f, a in table["geom"].items()}
    if table["xor"]:
        bl = geom["block_length"].astype(np.int64)
        h0, h1, h2 = xor8_hash_all(h, geom["block_length"])
        slots = (h0, h1.astype(np.int64) + bl, h2.astype(np.int64) + 2 * bl)
    elif table["arity"] == 3:
        slots = fuse_hash_all(h, geom)
    else:
        slots = fuse4_hash_all(h, geom)
    if k:
        off = at(table["off"])
        slots = [off + i for i in slots]
    fp = table["fp"]
    acc = fingerprint64(h).astype(fp.dtype)
    for i in slots:
        acc ^= fp[i]
    return (acc == 0) & at(table["present"])  # absent shard: not a member
