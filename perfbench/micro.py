"""Spark-free microbench of the numpy layers, run in the driver before any
JVM starts so nothing else competes for the cores.

Sizes follow the reference crate's criterion benches (1M keys per filter
build); each figure is the median of ``REPS`` calls, which absorbs a slow
first call (numpy has no compile step to warm up).
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from xorfilter_spark.kernels.fuse import build_fuse
from xorfilter_spark.kernels.xor8 import build_xor8, lookup_xor8
from xorfilter_spark.sketches.hll import HLL
from xorfilter_spark.sketches.kll import KLL

BUILD_KEYS = 1_000_000
LOOKUP_KEYS = 10_000_000
SKETCH_ROWS = 10_000_000
REPS = 3


def _median_s(fn) -> float:
    times = []
    for _ in range(REPS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run(seed: int, check) -> dict[str, float]:
    """Per-layer rates of the kernels and sketches.  ``check(ok, what)``
    records a failed output check without stopping the run."""
    rng = np.random.default_rng(seed)
    keys = rng.integers(0, 2**64, BUILD_KEYS, dtype=np.uint64, endpoint=False)
    out = {}

    out["kernels.xor8_build_keys_per_s"] = BUILD_KEYS / _median_s(lambda: build_xor8(keys))
    out["kernels.fuse8_build_keys_per_s"] = BUILD_KEYS / _median_s(lambda: build_fuse(keys))

    f = build_xor8(keys)
    check(f["num_keys"] == BUILD_KEYS, "kernel xor8 build: key count")
    # half members (every key repeated), half fresh random digests
    probes = np.concatenate([
        np.resize(keys, LOOKUP_KEYS // 2),
        rng.integers(0, 2**64, LOOKUP_KEYS - LOOKUP_KEYS // 2, dtype=np.uint64),
    ])
    hits: list[np.ndarray] = []

    def lookup():
        hits[:] = [lookup_xor8(probes, f["seed"], f["block_length"], f["fingerprints"])]

    out["kernels.xor8_lookup_keys_per_s"] = LOOKUP_KEYS / _median_s(lookup)
    check(bool(hits[0][: LOOKUP_KEYS // 2].all()), "kernel xor8 lookup: false negative")
    fpp = float(hits[0][LOOKUP_KEYS // 2:].mean())
    check(fpp <= 0.004, f"kernel xor8 lookup: fpp {fpp:.5f} > 0.004")

    values = rng.integers(-(2**63), 2**63 - 1, SKETCH_ROWS, dtype=np.int64)
    hll: list[HLL] = []

    def hll_update():
        hll[:] = [HLL(14)]
        hll[0].update(values)

    out["sketches.hll_update_rows_per_s"] = SKETCH_ROWS / _median_s(hll_update)
    err = abs(hll[0].estimate() - SKETCH_ROWS) / SKETCH_ROWS
    check(err <= 3 * 1.04 / 2**7, f"sketch hll: relative error {err:.4f}")

    floats = rng.permutation(SKETCH_ROWS).astype(np.float64)
    kll: list[KLL] = []

    def kll_update():
        kll[:] = [KLL(200)]
        kll[0].update(floats)

    out["sketches.kll_update_rows_per_s"] = SKETCH_ROWS / _median_s(kll_update)
    rank = (kll[0].quantile(0.5) + 1) / SKETCH_ROWS
    check(abs(rank - 0.5) <= 0.03, f"sketch kll: median rank error {rank - 0.5:.4f}")
    return out
