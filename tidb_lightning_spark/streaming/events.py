"""Structured Streaming operators over the events stream.

The reference has no streaming surface (SURVEY.md §2.O); these are the
Spark-native stream twins of the batch operators in plans/queries.py, so a
user can run the same semantics over a live feed:

  batch events_hourly_rollup   <->  windowed_counts (tumbling window)
  batch sessionize_events      <->  sessionize (session_window, same 30-min gap)
  exact dedup                  <->  dedup_stream (dropDuplicatesWithinWatermark)
  batch per-user groupBy agg   <->  running_user_totals (applyInPandasWithState)
  batch interval self-join     <->  correlate_streams (stream-stream, state
                                    bounded by watermark + time-range)
  batch sink staged commit     <->  stream_to_warehouse (foreachBatch,
                                    idempotent per-batch_id overwrite)

Late data is handled by watermarks; every operator works with
`trigger(availableNow=True)` for batch-replay and continuous triggers for
live feeds. State stores scale horizontally with shuffle partitions —
the groupBy keys (window/user/event id) are the state-partitioning keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, fmt: str = "parquet",
    max_files_per_trigger: int = 8,
) -> DataFrame:
    """File-based event stream (each new file = a micro-batch of events)."""
    return (
        spark.readStream.format(fmt)
        .schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .load(path)
    )


def windowed_counts(
    stream: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts/sums per event type with late-data bound."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("decimal(38,4)")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("bucket"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Session windows per user (same 30-min-gap semantics as the batch
    sessionize_events query)."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("decimal(38,4)")
            .alias("sum_value"),
        )
        .select(
            F.col("user_id"),
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
    )


def enrich_with_dim(stream: DataFrame, dim: DataFrame,
                    stream_key: str = "user_id",
                    dim_key: str = "c_custkey") -> DataFrame:
    """Stream-static enrichment join: each micro-batch joins the (small,
    broadcastable) dimension snapshot — the streaming twin of a fact-dim
    broadcast join; the static side is re-planned per batch, so a
    refreshed dim table is picked up without restarting the query."""
    return stream.join(
        F.broadcast(dim), stream[stream_key] == dim[dim_key], "left"
    )


def dedup_stream(stream: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Exactly-once event ids within the watermark horizon."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    running (event count, value total, last-seen ts) maintained across
    micro-batches — semantics Spark's built-in windowed aggs can't
    express (unbounded, update-on-every-batch, arbitrary state).

    State is partitioned by user_id (the shuffle key), so each task owns
    a disjoint user range and the state store scales horizontally; the
    per-batch payload into Python is the Arrow-batched group delta, not
    the accumulated history.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, n_events bigint, total_value double, last_ts timestamp"
    )
    state_schema = "n bigint, total double, last_ts timestamp"

    def update(key, pdf_iter, state: GroupState):
        n, total, last = (state.get if state.exists else (0, 0.0, None))
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
            mx = pdf["ts"].max()
            last = mx if last is None or (mx is not None and mx > last) else last
        state.update((n, total, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [total],
                "last_ts": [last],
            }
        )

    return stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def correlate_streams(
    left: DataFrame,
    right: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream time-interval join: correlate two live event feeds
    per user within a bounded window (e.g. every purchase to the clicks
    that preceded it by <= `within`).

    Both sides carry a watermark plus the time-range predicate, so Spark
    can bound the join state: rows age out of the state store once the
    other side's watermark passes `ts + within` — without this the state
    grows unboundedly. State partitions by user_id (the equi-key), the
    same horizontal-scale story as the windermarked aggs.
    """
    l = (
        left.where(F.col("event_type") == left_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("l_user"),
            F.col("event_id").alias("l_event"),
            F.col("ts").alias("l_ts"),
        )
    )
    r = (
        right.where(F.col("event_type") == right_type)
        .withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("r_user"),
            F.col("event_id").alias("r_event"),
            F.col("ts").alias("r_ts"),
        )
    )
    return l.join(
        r,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("l_ts") <= F.col("r_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {within}")),
    ).select(
        F.col("l_user").alias("user_id"),
        "l_event",
        "r_event",
        "l_ts",
        "r_ts",
    )


def stream_to_warehouse(
    df: DataFrame,
    table_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
    write_batch=None,
    compact_every: int | None = 16,
    max_deltas: int = 8,
):
    """Exactly-once streaming ingest into the warehouse layout via
    foreachBatch: every micro-batch lands in its own
    `_batch_id=N` subdirectory with overwrite semantics, so a batch
    replayed after a crash (Structured Streaming re-runs the last
    uncommitted batch with the SAME batch_id) rewrites the identical
    directory instead of duplicating rows — the streaming analog of the
    batch sink's staged commit.

    Per-batch dirs are tier-compacted (streaming/curation.TieredCompactor,
    LSM rule: every `compact_every` batch dirs fold into one `_delta_w`
    dir, deltas merge geometrically into the `_snapshot_w` base), so a
    long-running feed keeps a bounded dir count instead of one dir per
    micro-batch forever — the same bounded-committed-artifacts model as
    the reference's engine lifecycle (backend/backend.go:41-65). Read the
    table back with `streaming.curation.read_table` (exact across
    crashes); plain `spark.read.parquet(table_dir)` only works before the
    first fold. Long-lived reader sessions should
    `spark.catalog.refreshByPath(table_dir)` after a replay: an overwrite
    swaps part-file names and a cached FileIndex would go stale.
    `compact_every=None` disables compaction (legacy flat layout); a
    custom `write_batch` owns its own layout, so compaction applies only
    to the default writer. Scheme'd (remote-URI) table dirs skip
    compaction too — the fold's atomic rename is local-filesystem IO —
    and keep the flat per-batch layout.
    """
    compactor = None
    if write_batch is None and compact_every and "://" not in table_dir:
        from tidb_lightning_spark.streaming.curation import TieredCompactor

        compactor = TieredCompactor(
            df.sparkSession, [table_dir],
            compact_every=compact_every, max_deltas=max_deltas,
        )

    def _default_write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if compactor is not None:
            compactor.run(batch_id)
        (
            batch_df.write.mode("overwrite").parquet(
                f"{table_dir}/_batch_id={batch_id}"
            )
        )

    writer = (
        df.writeStream.foreachBatch(write_batch or _default_write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()
    # awaitTermination can return before the query deregisters from the
    # session's active list; a back-to-back start on the SAME checkpoint
    # then fails with "multiple streaming queries are concurrently using"
    # — drain the registration so sequential runs compose.
    import time as _time

    spark = df.sparkSession
    for _ in range(200):
        if all(a.id != q.id for a in spark.streams.active):
            break
        _time.sleep(0.05)
    return q


def run_to_memory(
    df: DataFrame, name: str, output_mode: str = "append"
) -> None:
    """Drain all available input into an in-memory table (tests/replay)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def streaming_distinct_users(stream: DataFrame) -> DataFrame:
    """Continuous distinct-user counts per event type via the SAME
    deterministic HLL as the batch sketch (functions.sketch): the state
    carried across micro-batches is the 1024 register maxima (one byte
    each), and register max is a commutative monoid — so after draining
    any partitioning of the input into batches, the state and estimate
    equal the batch operator's output EXACTLY, not approximately
    (pinned by tests/test_streaming_sketch.py). Contrast
    dropDuplicates-based counting, whose state grows with the number of
    distinct keys; this state is 1 KiB per group forever.

    The per-batch Python work recomputes the same md5-derived hash as
    functions.text.hash60, so a corpus hashed by the batch engine and a
    stream drained here agree bit-for-bit.
    """
    import hashlib
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from tidb_lightning_spark.functions.sketch import (
        HLL_ALPHA,
        HLL_M,
        HLL_P,
        HLL_W_BITS,
    )

    out_schema = "event_type string, est_distinct bigint, registers_hit bigint"
    state_schema = "regs binary"

    def update(key, pdf_iter, state: GroupState):
        # HLL_M registers + ONE extra slot for the NULL key: the batch
        # operator (and its SQL twin) hash NULL to a NULL register — its
        # own group with rho = W_BITS+1 — so stream==batch exactness must
        # fold nulls the same way, not skip them. State written by a
        # pre-null-slot checkpoint is widened in place.
        regs = (
            bytearray(state.get[0]) if state.exists
            else bytearray(HLL_M + 1)
        )
        if len(regs) == HLL_M:
            regs.append(0)
        for pdf in pdf_iter:
            # _uid_str is stringified SPARK-SIDE: Arrow hands a nullable
            # int64 over as float64 (NaN for null), which silently
            # rounds ids above 2^53 — a snowflake-style user_id in a
            # micro-batch that also contains a null would then hash
            # differently than the batch hash60(cast as string) path.
            # A string column round-trips exactly; pd.isna catches the
            # None slots.
            for uid in pdf["_uid_str"]:
                if pd.isna(uid):
                    regs[HLL_M] = HLL_W_BITS + 1
                    continue
                h = int(
                    hashlib.md5(uid.encode()).hexdigest()[:15], 16
                )
                reg = h & (HLL_M - 1)
                w = h >> HLL_P
                rho = (HLL_W_BITS + 1) - w.bit_length()  # 51 for w == 0
                if rho > regs[reg]:
                    regs[reg] = rho
        state.update((bytes(regs),))
        # hit counts REAL registers only; the phantom NULL slot at
        # regs[HLL_M] contributes its 2^-rho term to si but must not
        # shrink zeros = m - hit below 0 (batch fix mirrored here so
        # stream == batch stays bit-exact — r7 advice).
        hit = sum(1 for r in regs[:HLL_M] if r > 0)
        si = sum(1 << (HLL_W_BITS + 1 - r) for r in regs if r > 0)
        s = float(si) / float(1 << (HLL_W_BITS + 1))
        zeros = float(HLL_M - hit)
        raw = HLL_ALPHA * float(HLL_M) * float(HLL_M) / (s + zeros)
        if raw <= 2.5 * HLL_M and zeros > 0:
            est = float(HLL_M) * math.log(float(HLL_M) / zeros)
        else:
            est = raw
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "est_distinct": [int(math.floor(est + 0.5))],
                "registers_hit": [hit],
            }
        )

    keyed = stream.select(
        "event_type", F.col("user_id").cast("string").alias("_uid_str")
    )
    return keyed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_cdc_apply(
    changes: DataFrame,
    warehouse: str,
    db: str,
    table: str,
    key_columns: list[str],
    checkpoint_dir: str,
    seq_column: str | None = None,
    available_now: bool = True,
):
    """Apply a CDC change stream to a warehouse table: every micro-batch
    pre-reduces to the LATEST change per key, then MERGEs through
    `files_sink.upsert_table` — updates replace, inserts add, rows with
    a true `_deleted` column retire their key. The partition-level
    copy-on-write inside upsert keeps each batch O(changed data).

    Exactly-once WITHOUT a transaction log: upsert is a pure function
    of (table state, batch) AND idempotent on its own output — replayed
    updates rewrite identical values, replayed deletes anti-join
    nothing, replayed inserts hit keys that now exist and rewrite the
    same rows — so Structured Streaming's crash-replay of the last
    uncommitted batch (same batch content, post-batch table state)
    commits the identical table. That idempotence is what lets a plain
    directory swap stand in for Delta-style MERGE transactionality.

    `seq_column` orders multiple changes to one key within a batch
    (latest wins; ties broken by the remaining columns so the winner is
    total-order deterministic). Without it, batches must already be
    unique per key — upsert_table rejects violations rather than pick a
    nondeterministic winner."""
    from pyspark.sql import Window
    from tidb_lightning_spark.sinks.files_sink import FilesSink, upsert_table

    sink = FilesSink(warehouse)

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        reduced = batch_df
        if seq_column is not None:
            others = [
                c for c in batch_df.columns
                if c not in key_columns and c != seq_column
            ]
            w = Window.partitionBy(*key_columns).orderBy(
                F.col(seq_column).desc(),
                *[F.col(c).desc_nulls_last() for c in others],
            )
            reduced = (
                batch_df.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn", seq_column)
            )
        # The merge runs several actions over this batch (emptiness
        # probe, COW file-pruning join, the rewrite itself) — pin the
        # reduced changeset so the source scan + per-key window execute
        # once per batch instead of once per action. Batch-scoped: the
        # pin is dropped before the next micro-batch, so nothing
        # persists across the stream.
        reduced = reduced.persist()
        try:
            if not reduced.isEmpty():
                # row_number()==1 makes the batch structurally unique
                # per key — tell upsert so it skips the dup-probe job
                upsert_table(
                    sink, reduced, db, table, key_columns,
                    _keys_unique=seq_column is not None,
                )
        finally:
            reduced.unpersist()

    writer = (
        changes.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    q = writer.start()
    q.awaitTermination()
    import time as _time

    spark = changes.sparkSession
    for _ in range(200):
        if all(a.id != q.id for a in spark.streams.active):
            break
        _time.sleep(0.05)
    return q
