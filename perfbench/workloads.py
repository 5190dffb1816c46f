"""The benchmark's workloads.

Each workload generates its inputs in Spark from ``(id, seed)`` — a key is
``xxhash64(id, seed)``, a random 64-bit value — and hands the program only
the resulting DataFrames.  Because ids are chosen by the workload, every
exact answer a check needs (distinct counts, members, novel keys, ranks) is
known without a second computation.

Every call into the program is an *op*: it is counted as attempted, and
as failed if it raises or a check on its output fails.  A failure never
stops the run.  Timed ops carry ``path="write"`` or ``path="read"``; the
end-to-end throughputs pool the keys and wall time of each path.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from xorfilter_spark import bank as B
from xorfilter_spark.sketches.hll import hll_count_distinct, hll_count_distinct_by
from xorfilter_spark.sketches.kll import kll_build
from xorfilter_spark.streaming.incremental import streaming_novel_keys

FPP = 2.0**-8                      # xor8 false-positive probability
HLL_SIGMA = 1.04                   # HLL relative std error x sqrt(registers)
KLL_EPS = 0.03                     # rank tolerance of the package's KLL merge test
LINEAGE = ("shard", "variant", "num_keys", "num_rows", "duplicates",
           "retries", "build_ms", "num_shards")


def key_of(ids, seed: int):
    """The workload key for an id column: a random 64-bit value."""
    return F.xxhash64(ids.cast("long"), F.lit(seed))


def fp_allowance(n: int) -> int:
    """Upper bound on xor8 false positives among ``n`` non-members: mean +
    6 sigma of a binomial at 2^-8.  (A flat 0.4% cap would be only 1.5
    sigma above the mean at 10^6 probes and fail correct code.)"""
    mean = n * FPP
    return math.ceil(mean + 6 * math.sqrt(mean))


class Run:
    """Op ledger shared by a workload's phases: attempted/failed counts,
    failure messages, and the checked space and false-positive tallies."""

    def __init__(self, spark, tracer, work: str, seed: int):
        self.spark, self.tracer, self.work, self.seed = spark, tracer, work, seed
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.space_bytes = 0
        self.space_keys = 0
        self.fp_hits = 0
        self.fp_probes = 0

    def check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failures.append(what)

    def attempt(self, fn, *args) -> None:
        """Run one op (a method that calls the program and checks its
        output); count it, and count it failed on an exception or a
        failed check."""
        self.attempted += 1
        before = len(self.failures)
        try:
            fn(*args)
        except Exception as e:  # the run goes on; the op counts as failed
            self.failures.append(f"{fn.__name__}{args}: {type(e).__name__}: {e}"[:500])
        if len(self.failures) > before:
            self.failed += 1

    def expected_bytes(self, rows) -> int:
        """``bank_expected_size_bytes`` over collected (variant, num_keys)."""
        df = self.spark.createDataFrame(
            [(r["variant"], int(r["num_keys"])) for r in rows], "variant string, num_keys long"
        )
        return B.bank_expected_size_bytes(df)

    def check_bank(self, rows, what: str, keys: int) -> None:
        """Checks on a bank's collected lineage rows (``LINEAGE`` plus
        ``nbytes``): one row per shard, the key count, and fingerprint bytes
        equal to ``bank_expected_size_bytes``."""
        n = sum(r["num_keys"] for r in rows)
        size = sum(r["nbytes"] for r in rows)
        num_shards = rows[0]["num_shards"] if rows else 0
        self.check(sorted(r["shard"] for r in rows) == list(range(num_shards)), f"{what}: shard ids")
        self.check(n == keys, f"{what}: {n} keys, expected {keys}")
        self.check(size == self.expected_bytes(rows), f"{what}: size != geometry")


class BuildProbe:
    """Fresh bank builds beside probes of a bank built once.

    Builds: ``build_bank`` over ROWS rows of which a quarter repeat earlier
    keys (the kernel's dedup runs), as xor8 and as fuse8 with
    ``num_shards="auto"``.  Each timed build collects the per-shard lineage
    columns and fingerprint lengths; the fingerprints themselves are built
    and dropped JVM-side, as with the ``noop`` sink, but the collected rows
    let every timed build be checked, and give the run's space figure.

    Probes: a broadcast ``contains`` over PROBES keys, half members, and a
    ``contains_join`` over the first JOIN_PROBES of them, both aggregated to
    hit counts, against the xor8 bank of the untimed checked build.

    Warm-ups run the same calls on WARM_ROWS of the inputs, except the
    xor8 one, which builds the full probe bank.
    """

    ROWS = 3_200_000
    DISTINCT = 2_400_000
    PROBES = 16_000_000
    JOIN_PROBES = 4_000_000
    WARM_ROWS = 1_000_000

    def __init__(self, run: Run):
        self.run = run
        self.spark = run.spark
        self.bank = None
        self.join_hits: dict[int, int] = {}

    def keys(self, rows: int | None = None):
        ids = F.pmod(F.col("id"), F.lit(self.DISTINCT))
        return self.spark.range(rows or self.ROWS).select(key_of(ids, self.run.seed).alias("k"))

    def probes(self, rows: int | None = None):
        """Even ids probe member keys, odd ids keys never inserted."""
        half = F.shiftright(F.col("id"), 1)
        member = F.col("id") % 2 == 0
        k = F.when(member, key_of(F.pmod(half, F.lit(self.DISTINCT)), self.run.seed)).otherwise(
            key_of(half + self.DISTINCT, self.run.seed)
        )
        return self.spark.range(rows or self.PROBES).select("id", member.alias("m"), k.alias("k"))

    def setup(self) -> None:
        self.run.attempt(self.checked_build, "xor8", self.ROWS)
        self.run.attempt(self.checked_build, "fuse8", self.WARM_ROWS)
        self.run.attempt(self.probe, self.WARM_ROWS, False)
        self.run.attempt(self.cogroup_probe, self.WARM_ROWS, False)

    def cycle(self) -> None:
        for variant in ("xor8", "fuse8"):
            self.run.attempt(self.build, variant)
        self.run.attempt(self.probe, self.PROBES, True)
        self.run.attempt(self.cogroup_probe, self.JOIN_PROBES, True)

    def checked_build(self, variant: str, rows: int) -> None:
        """Untimed build (the warm-up of ``build``), persisted with
        ``write_bank``, read back and probed with its own keys.  Reading the
        bank back, rather than caching it, keeps later builds of the same
        keys from reusing its data.  The xor8 bank serves the probes."""
        run = self.run
        path = os.path.join(run.work, f"bank_{variant}")
        with run.tracer.span(f"checked_build_{variant}"):
            B.write_bank(B.build_bank(self.keys(rows), "k", variant=variant), path)
        bank = B.read_bank(self.spark, path)
        lineage = bank.select(*LINEAGE, F.length("fingerprints").alias("nbytes")).collect()
        run.check_bank(lineage, f"checked {variant} build", min(rows, self.DISTINCT))
        if variant == "xor8":
            self.bank = bank
            return
        with run.tracer.span("check"):
            hits = B.contains(self.keys(rows), "k", bank, "hit").where("hit").count()
        run.check(hits == rows, f"checked {variant} build: {rows - hits} false negatives")

    def build(self, variant: str) -> None:
        run = self.run
        with run.tracer.span(f"build_{variant}", path="write", keys=self.DISTINCT, timed=True) as rec:
            rows = B.build_bank(self.keys(), "k", variant=variant).select(
                *LINEAGE, F.length("fingerprints").alias("nbytes")
            ).collect()
        rec["kernel_build_s"] = sum(r["build_ms"] for r in rows) / 1e3
        rec["retries"] = sum(r["retries"] for r in rows)
        what = f"build {variant}"
        run.check_bank(rows, what, self.DISTINCT)
        run.space_bytes += sum(r["nbytes"] for r in rows)
        run.space_keys += sum(r["num_keys"] for r in rows)
        run.check(sum(r["num_rows"] for r in rows) == self.ROWS, f"{what}: input rows")
        run.check(sum(r["duplicates"] for r in rows) == self.ROWS - self.DISTINCT, f"{what}: duplicates")

    def probe(self, n: int, timed: bool) -> None:
        run = self.run
        probes = self.probes(n)
        with run.tracer.span("probe", path="read", keys=n, timed=timed):
            with run.tracer.span("probe_setup"):
                df = B.contains(probes, "k", self.bank, "hit")
            r = df.agg(
                F.count(F.when(F.col("m") & F.col("hit"), 1)).alias("member_hits"),
                F.count(F.when(~F.col("m") & F.col("hit"), 1)).alias("false_hits"),
                F.count(F.when(F.col("hit") & (F.col("id") < self.JOIN_PROBES), 1)).alias("join_hits"),
            ).collect()[0]
        members = n // 2
        run.check(r["member_hits"] == members, f"probe: {members - r['member_hits']} false negatives")
        fpp = r["false_hits"] / (n - members)
        run.check(r["false_hits"] <= fp_allowance(n - members), f"probe: fpp {fpp:.5f}")
        if timed:
            run.fp_hits += r["false_hits"]
            run.fp_probes += n - members
        # hits among the first min(n, JOIN_PROBES) probes, for contains_join
        self.join_hits[min(n, self.JOIN_PROBES)] = r["join_hits"]

    def cogroup_probe(self, n: int, timed: bool) -> None:
        run = self.run
        probes = self.probes(n)
        with run.tracer.span("cogroup_probe", path="read", keys=n, timed=timed):
            r = B.contains_join(probes, "k", self.bank, "hit").agg(
                F.count(F.when(F.col("hit"), 1)).alias("hits"),
                F.count(F.when(F.col("m") & F.col("hit"), 1)).alias("member_hits"),
            ).collect()[0]
        members = n // 2
        run.check(r["member_hits"] == members, f"cogroup probe: {members - r['member_hits']} false negatives")
        expected = self.join_hits.get(n)
        run.check(r["hits"] == expected, f"cogroup probe: {r['hits']} hits != broadcast {expected}")

    def floor_inputs(self):
        """(probes, keys, probe count, member count) for the exact semi-join
        floor, and (rows with k/v/g columns, row count) for the native
        sketches: the probes and keys of the probe ops, and the key rows."""
        keys = self.keys()
        rows = keys.select("k", F.col("k").cast("double").alias("v"), F.pmod("k", F.lit(1000)).alias("g"))
        return (self.probes(), keys, self.PROBES, self.PROBES // 2), (rows, self.ROWS)


class StreamIngest:
    """A crawl frontier: micro-batches fed through ``streaming_novel_keys``
    (read_bank -> anti-join -> append log -> rebuild_dirty_shards -> swap),
    each followed by a sketch pass over the same batch.

    Batch i covers ids [lo, lo + BATCH); its first third was ingested by
    the batch before (or the seed), the rest is new.  Values are a
    permutation of 0..BATCH-1, so the exact rank of any value is known.
    """

    SEED_KEYS = 300_000
    BATCH = 600_000                 # divisible by 3 and by GROUPS
    GROUPS = 1_000
    NONMEMBERS = 500_000            # per post-ingest check
    SHARDS = 8                      # rebuild_dirty_shards runs one task per dirty shard
    VALUE_MUL = 7_919               # coprime to BATCH
    NONMEMBER_BASE = 1 << 40        # ids never ingested

    def __init__(self, run: Run):
        self.run = run
        self.spark = run.spark
        d = os.path.join(run.work, "stream")
        self.bank_path, self.log_path, self.out_path = (
            os.path.join(d, p) for p in ("bank", "log", "out")
        )
        self.sink = streaming_novel_keys(
            self.spark, "k", self.bank_path, self.log_path, self.out_path, num_shards=self.SHARDS
        )
        self.out_rows = 0
        self.next_batch = 0

    def batch(self, i: int):
        lo = self.SEED_KEYS + i * (2 * self.BATCH // 3) - self.BATCH // 3
        ids = F.col("id")
        return self.spark.range(lo, lo + self.BATCH).select(
            key_of(ids, self.run.seed).alias("k"),
            (ids % self.GROUPS).alias("g"),
            F.pmod(ids * self.VALUE_MUL, F.lit(self.BATCH)).cast("double").alias("v"),
        )

    def setup(self) -> None:
        self.run.attempt(self.seed_ingest)
        self.cycle(timed=False)

    def cycle(self, timed: bool = True) -> None:
        i = self.next_batch
        self.next_batch += 1
        self.run.attempt(self.ingest, i, timed)
        self.run.attempt(self.sketch, i, timed)

    def seed_ingest(self) -> None:
        df = self.spark.range(self.SEED_KEYS).select(key_of(F.col("id"), self.run.seed).alias("k"))
        with self.run.tracer.span("seed_ingest") as rec:
            self.sink(df, 0)
        self.after_ingest(rec, self.SEED_KEYS, self.SEED_KEYS, 0)

    def ingest(self, i: int, timed: bool) -> None:
        with self.run.tracer.span("ingest_batch", path="write", keys=self.BATCH, timed=timed) as rec:
            self.sink(self.batch(i), i + 1)
        novel = 2 * self.BATCH // 3
        # a novel key the bank wrongly answers for is dropped; an overlap key
        # dropped that way one batch earlier may come back as novel now
        self.after_ingest(rec, novel - fp_allowance(novel),
                          novel + fp_allowance(self.BATCH // 3), i + 1)

    def after_ingest(self, rec, lo: int, hi: int, batch_id: int) -> None:
        """Checks after every sink call: the novel-row count, the bank's
        shards, key count and geometry, and zero false negatives over every
        key written out so far (exactly the keys the bank holds)."""
        run, spark = self.run, self.spark
        what = f"ingest batch {batch_id}"
        with run.tracer.span("check"):
            out = spark.read.parquet(self.out_path)
            out_rows = out.count()
            fresh = out_rows - self.out_rows
            self.out_rows = out_rows
            run.check(lo <= fresh <= hi, f"{what}: {fresh} novel rows outside [{lo}, {hi}]")
            bank = B.read_bank(spark, self.bank_path)
            rows = bank.select(*LINEAGE, F.length("fingerprints").alias("nbytes")).collect()
            run.check_bank(rows, what, out_rows)
            run.space_bytes = sum(r["nbytes"] for r in rows)
            run.space_keys = sum(r["num_keys"] for r in rows)
            # every batch spreads over all shards, so every shard was rebuilt
            rec["kernel_build_s"] = sum(r["build_ms"] for r in rows) / 1e3
            rec["retries"] = sum(r["retries"] for r in rows)
            base = self.NONMEMBER_BASE + batch_id * self.NONMEMBERS
            nonmembers = self.spark.range(base, base + self.NONMEMBERS).select(
                key_of(F.col("id"), run.seed).alias("k"), F.lit(False).alias("m")
            )
            probes = out.select("k", F.lit(True).alias("m")).unionByName(nonmembers)
            r = B.contains(probes, "k", bank, "hit").agg(
                F.count(F.when(F.col("m") & F.col("hit"), 1)).alias("member_hits"),
                F.count(F.when(~F.col("m") & F.col("hit"), 1)).alias("false_hits"),
            ).collect()[0]
        run.check(r["member_hits"] == out_rows, f"{what}: {out_rows - r['member_hits']} false negatives")
        fpp = r["false_hits"] / self.NONMEMBERS
        run.check(r["false_hits"] <= fp_allowance(self.NONMEMBERS), f"{what}: fpp {fpp:.5f}")
        run.fp_hits += r["false_hits"]
        run.fp_probes += self.NONMEMBERS

    def sketch(self, i: int, timed: bool) -> None:
        run = self.run
        df = self.batch(i)
        with run.tracer.span("sketch", path="read", keys=self.BATCH, timed=timed):
            est = hll_count_distinct(df, "k")
            kll = kll_build(df, "v")
            groups = hll_count_distinct_by(df, ["g"], "k").collect()
        what = f"sketch batch {i + 1}"
        err = abs(est - self.BATCH) / self.BATCH
        run.check(err <= 3 * HLL_SIGMA / 2**7, f"{what}: hll relative error {err:.4f}")
        rank = (kll.quantile(0.5) + 1) / self.BATCH
        run.check(abs(rank - 0.5) <= KLL_EPS, f"{what}: kll median rank {rank:.4f}")
        run.check(len(groups) == self.GROUPS, f"{what}: {len(groups)} groups")
        per_group = self.BATCH // self.GROUPS
        errs = [abs(g["approx_distinct"] - per_group) / per_group for g in groups]
        total = sum(g["approx_distinct"] for g in groups)
        run.check(abs(total - self.BATCH) / self.BATCH <= 3 * HLL_SIGMA / 2**6, f"{what}: grouped hll total {total:.0f}")
        run.check(max(errs, default=1.0) <= 6 * HLL_SIGMA / 2**6, f"{what}: grouped hll max error {max(errs, default=1.0):.4f}")

    def floor_inputs(self):
        """The next batch against every key ingested so far (its exact
        left-semi join matches the overlap third), and the next batch's
        rows for the native sketches."""
        nxt = self.batch(self.next_batch)
        frontier = self.SEED_KEYS + self.next_batch * (2 * self.BATCH // 3)
        ingested = self.spark.range(frontier).select(key_of(F.col("id"), self.run.seed).alias("k"))
        return (nxt, ingested, self.BATCH, self.BATCH // 3), (nxt, self.BATCH)


WORKLOADS = {"build-probe": BuildProbe, "stream-ingest": StreamIngest}
