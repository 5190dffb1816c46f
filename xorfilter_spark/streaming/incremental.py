"""Structured-Streaming extensions: incremental filter-bank maintenance.

The reference explicitly lacks incremental adds ("Incrementally adding keys
to a pre-built Xor8 instance" is an open issue — /root/reference/README.md:50).
The bank design makes it natural on Spark: a micro-batch of new keys only
*dirties* the hash-prefix shards it touches; ``foreachBatch`` rebuilds just
those shards from (checkpointed digests ∪ new digests) and upserts them into
the bank checkpoint.  Cost per batch ~ (dirty shards / total shards) of a
full rebuild — at 10^12 keys with 2^12 shards, a 10^6-key batch touches at
most 10^6 shards-worth but typically all shards at uniform hash spread, so
the *digest log* (append-only parquet of new digests per shard) is the
thing that keeps rebuilds cheap: rebuild reads only dirty shards' digests.

Also here: ``streaming_sketch_agg`` — event-time windowed sketch states via
the same two-phase mergeable pattern as ``sketches.core.agg_by``, driven by
watermarked ``groupBy(window(...))``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..bank import (
    SHARD,
    _build_plan,
    _hadoop_fs,
    _path_exists,
    _sharded_digests,
)


def append_digest_log(
    batch_df: DataFrame,
    key_col: str,
    log_path: str,
    num_shards: int,
    hash_strategy: str = "xxhash64",
) -> list[int]:
    """Append a micro-batch's digests to the partitioned digest log and
    return the dirty shard ids.  The log is the resumable source of truth
    for shard rebuilds (partition-pruned reads by shard)."""
    digests = _sharded_digests(batch_df, key_col, num_shards, hash_strategy)
    digests.write.mode("append").partitionBy(SHARD).parquet(log_path)
    return [r[SHARD] for r in digests.select(SHARD).distinct().collect()]


def rebuild_dirty_shards(
    spark: SparkSession,
    log_path: str,
    bank_path: str,
    dirty: list[int],
    variant: str = "xor8",
    num_shards: int = 32,
    hash_strategy: str = "xxhash64",
) -> None:
    """Rebuild only the dirty shards from the digest log and upsert them.

    Partition pruning on the digest log means each rebuild reads only the
    dirty shards' digests — the incremental-cost guarantee.
    """
    if not dirty:
        return
    # same plan as build_bank (its second half — the log already holds
    # sharded digests): the kernel dedups via np.unique (per-shard dedup IS
    # global dedup — shards partition the digest space)
    log = spark.read.parquet(log_path).where(F.col(SHARD).isin(dirty))
    rebuilt = _build_plan(log, variant, num_shards, hash_strategy, len(dirty))
    if _path_exists(spark, bank_path):
        existing = spark.read.parquet(bank_path).where(~F.col("shard").isin(dirty))
        merged = existing.unionByName(rebuilt)
    else:
        merged = rebuilt
    # write-to-temp then atomic-rename swap: the merged plan READS bank_path,
    # so overwriting it in the same job would race recomputation against the
    # truncated source (cache() alone is not crash/eviction-safe — an evicted
    # block would recompute from the half-written path).  Iceberg gives real
    # snapshot atomicity in production; rename is the parquet stand-in.
    # Hadoop rename() reports failure via its return value, not an exception
    # (ADVICE r2) — check it, and move the old bank ASIDE first instead of
    # deleting it so a failed swap is recoverable.
    tmp_path = bank_path.rstrip("/") + ".__tmp__"
    merged.write.mode("overwrite").parquet(tmp_path)
    fs, jvm, dst = _hadoop_fs(spark, bank_path)
    src = jvm.org.apache.hadoop.fs.Path(tmp_path)
    bak = jvm.org.apache.hadoop.fs.Path(bank_path.rstrip("/") + ".__bak__")
    if fs.exists(bak):
        fs.delete(bak, True)
    had_old = fs.exists(dst)
    if had_old and not fs.rename(dst, bak):
        raise IOError(f"cannot move old bank aside: {bank_path}")
    if not fs.rename(src, dst):
        if had_old:
            fs.rename(bak, dst)  # restore the previous bank
        raise IOError(f"bank swap failed: {tmp_path} -> {bank_path}")
    if had_old:
        fs.delete(bak, True)


def incremental_bank_sink(
    spark: SparkSession,
    key_col: str,
    log_path: str,
    bank_path: str,
    variant: str = "xor8",
    num_shards: int = 32,
    hash_strategy: str = "xxhash64",
):
    """A ``foreachBatch`` function maintaining a filter bank over a stream.

    Usage::

        q = (stream_df.writeStream
             .foreachBatch(incremental_bank_sink(spark, 'url', log, bank))
             .option('checkpointLocation', ckpt)
             .start())
    """

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        dirty = append_digest_log(
            batch_df, key_col, log_path, num_shards, hash_strategy
        )
        rebuild_dirty_shards(
            spark, log_path, bank_path, dirty, variant, num_shards, hash_strategy
        )

    return fn


def streaming_distinct(
    df: DataFrame,
    key_col: str,
    ts_col: str = "ts",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful streaming exact dedup: emit each key's FIRST arrival only.

    ``dropDuplicatesWithinWatermark`` keeps per-key state in the streaming
    state store and expires it at the watermark — bounded state, the
    streaming face of ``operators.dedup.exact_dedup`` (at 10^12 urls the
    state holds only keys younger than the watermark; older re-crawls are
    instead absorbed by the filter-bank probe, ``approx_anti_join``, whose
    FPP trades memory for an ≤0.4% chance of dropping a never-seen url).
    Works on batch DataFrames too (falls back to plain dropDuplicates
    semantics), which is how the oracle checks it.
    """
    out = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    if out.isStreaming:
        return out.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
            [key_col]
        )
    return out.dropDuplicates([key_col])


def streaming_novel_keys(
    spark: SparkSession,
    key_col: str,
    bank_path: str,
    log_path: str,
    out_path: str,
    num_shards: int = 32,
    hash_strategy: str = "xxhash64",
):
    """foreachBatch sink composing the two dedup tiers: per-batch rows are
    first anti-joined against the persistent filter bank ('ever crawled?'),
    survivors are appended to ``out_path`` and folded into the bank — the
    end-to-end 'crawl frontier' maintenance loop of the north star.
    Returns the foreachBatch function."""
    from ..bank import approx_anti_join, read_bank

    def fn(batch_df: DataFrame, batch_id: int) -> None:
        batch_df = batch_df.dropDuplicates([key_col])
        # only the MISSING-bank case means "everything is novel"; any other
        # failure (corrupt file, probe OOM) must fail the batch rather than
        # silently re-appending already-crawled urls (ADVICE r2)
        if _path_exists(spark, bank_path):
            bank = read_bank(spark, bank_path)
            fresh = approx_anti_join(batch_df, key_col, bank)
        else:
            fresh = batch_df  # no bank yet: everything is novel
        fresh.write.mode("append").parquet(out_path)
        dirty = append_digest_log(
            fresh, key_col, log_path, num_shards, hash_strategy
        )
        rebuild_dirty_shards(
            spark, log_path, bank_path, dirty, "xor8", num_shards, hash_strategy
        )

    return fn


def streaming_sketch_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "user_id",
    window_dur: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked per-window approximate distinct users — the streaming
    face of the sketch suite.  Uses Spark's native HLL aggregate so state
    lives in the streaming state store (mergeable across micro-batches);
    our own HLL states cross-check it batch-side (tests)."""
    # parquet event-time columns often arrive as TIMESTAMP_NTZ; watermarks
    # require TIMESTAMP (ltz) — cast is epoch-preserving under UTC sessions
    events = events.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window_dur).alias("w"))
        .agg(
            F.approx_count_distinct(key_col).alias("approx_users"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "approx_users",
            "n_events",
        )
    )
