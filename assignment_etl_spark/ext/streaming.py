"""Structured Streaming surface over the events table (SURVEY §2.8).

The reference is strictly batch; this is the engine's streaming extension:
watermarked tumbling/sliding/session windows, streaming dedup within the
watermark, and a dual-sink (clean + audit log) foreachBatch writer mirroring
the batch quality dataflow.

Everything is exactly-once per the file/parquet source + checkpoint
contract; ``run_streaming_query_once`` replays a bounded source with
``availableNow`` so batch oracles can verify streaming results bit-for-bit.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# per-batch sinks sever lineage from the table they rewrite; the scoped
# form releases each batch's checkpoint RDD after the write (a bare
# localCheckpoint leaks one RDD per BATCH past clearCache — see the
# helper's docstring)
from assignment_etl_spark.caching import released_local_checkpoint


def windowed_event_counts(
    events: DataFrame,
    *,
    window_size: str = "1 hour",
    slide: str | None = None,
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "event_type",
) -> DataFrame:
    """Watermarked windowed counts + value sum per event type."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    win = (
        F.window(ts_col, window_size, slide)
        if slide
        else F.window(ts_col, window_size)
    )
    return src.groupBy(win.alias("w"), F.col(key_col)).agg(
        F.count(F.lit(1)).alias("n_events"),
        # exact decimal sum (associative — immune to partial-agg order),
        # matching the repo-wide _dec_sum hash-stability policy
        F.round(F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 6).alias(
            "sum_value"
        ),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col(key_col),
        "n_events",
        "sum_value",
    )


def sessionized_counts(
    events: DataFrame,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    ts_col: str = "ts",
    key_col: str = "user_id",
) -> DataFrame:
    """Session windows (gap-based) per user — requires streaming input."""
    src = events.withWatermark(ts_col, watermark) if events.isStreaming else events
    return src.groupBy(
        F.session_window(ts_col, gap).alias("s"), F.col(key_col)
    ).agg(F.count(F.lit(1)).alias("n_events")).select(
        F.col("s.start").alias("session_start"),
        F.col("s.end").alias("session_end"),
        F.col(key_col),
        "n_events",
    )


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    *,
    on: str,
    left_ts: str = "l_ts",
    right_ts: str = "r_ts",
    within: str = "15 minutes",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream join: equality on ``on`` plus the
    time-bound condition left_ts ≤ right_ts ≤ left_ts + within.

    The time bound + watermarks are what make the state BOUNDED: each side
    buffers only rows younger than (watermark + within), so state size is
    rate × horizon, not the whole stream — the only join shape that
    survives an unbounded stream. The timestamp columns must be named
    differently on the two sides (rename before calling).

    Works identically on batch frames (no watermark applied) — the
    batch-equivalence tests rely on that.
    """
    lw = left.withWatermark(left_ts, watermark) if left.isStreaming else left
    rw = right.withWatermark(right_ts, watermark) if right.isStreaming else right
    # rename the key per side BEFORE joining: distinct names sidestep
    # self-join lineage ambiguity, and the post-join coalesce keeps the key
    # of whichever side produced an outer row (dropping the right key
    # outright would NULL it for unmatched right rows)
    lw = lw.withColumnRenamed(on, "_ssj_lkey")
    rw = rw.withColumnRenamed(on, "_ssj_rkey")
    cond = (
        (F.col("_ssj_lkey") == F.col("_ssj_rkey"))
        & (F.col(right_ts) >= F.col(left_ts))
        & (F.col(right_ts) <= F.col(left_ts) + F.expr(f"INTERVAL {within}"))
    )
    return (
        lw.join(rw, cond, how)
        .withColumn(on, F.coalesce("_ssj_lkey", "_ssj_rkey"))
        .drop("_ssj_lkey", "_ssj_rkey")
    )


def stream_dedup(
    events: DataFrame, keys: list[str], *, watermark: str = "2 hours", ts_col: str = "ts"
) -> DataFrame:
    """Streaming duplicate drop within the watermark horizon (the streaming
    twin of the batch keep-first dedup, D2)."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def read_events_stream(
    spark: SparkSession, path: str, schema=None, *, max_files_per_trigger: int = 1
) -> DataFrame:
    """Stream a parquet path. The file source wants a directory; a single
    .parquet file is handled by streaming its parent with a glob filter."""
    import os

    reader = (
        spark.readStream.format("parquet")
        .option("maxFilesPerTrigger", max_files_per_trigger)
    )
    if schema is None:
        schema = spark.read.parquet(path).schema
    if path.endswith(".parquet") and os.path.isfile(path):
        reader = reader.option("pathGlobFilter", os.path.basename(path))
        path = os.path.dirname(path)
    return reader.schema(schema).load(path)


def stateful_user_totals(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key running
    (event count, value total) maintained in the state store across
    micro-batches, emitted in update mode.

    This is the engine's template for stateful logic Spark's built-in
    windows can't express (per-entity accumulators, custom TTL policies,
    sequence detection): Arrow-batched per-group pandas with explicit
    GroupState. State size = O(distinct keys) × a few longs — bounded and
    store-backed at 100 TB key cardinalities.
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import (  # noqa: PLC0415
        GroupStateTimeout,
    )

    output_schema = f"{key_col} long, n_events long, total_value double"
    state_schema = "n long, total double"

    def update_totals(key, pdf_iter, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_value": [total]}
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update_totals,
            output_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def stateful_user_totals_exact(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "user_id",
    value_micros_col: str = "value_micros",
    watermark: str = "2 hours",
) -> DataFrame:
    """`stateful_user_totals` with EXACT arithmetic, the gate-checkable
    variant: the value column arrives pre-scaled to integer micros (cast
    to decimal(28,6) × 1e6 → long upstream, one Catalyst projection), and
    the state accumulates int64 — associative and order-independent, so
    the result is bit-identical to any batch engine's decimal sum no
    matter how rows land in micro-batches. Headroom: |value| ≤ ~9e9 per
    1e9-row key before int64 overflow — far past any per-key stream.
    """
    import pandas as pd  # noqa: PLC0415
    from pyspark.sql.streaming.state import GroupStateTimeout  # noqa: PLC0415

    output_schema = f"{key_col} long, n_events long, total_micros long"
    state_schema = "n long, total long"

    def update_totals(key, pdf_iter, state):
        n, total = state.get if state.exists else (0, 0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += int(pdf[value_micros_col].fillna(0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {key_col: [key[0]], "n_events": [n], "total_micros": [total]}
        )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(key_col)
        .applyInPandasWithState(
            update_totals,
            output_schema,
            state_schema,
            "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def stream_clean_with_quality(
    stream_df: DataFrame,
    clean_fn,
    *,
    clean_path: str,
    logs_path: str,
    checkpoint: str,
) -> "StreamingQuery":  # noqa: F821
    """The streaming twin of the batch dual-output contract (SURVEY §2.9):
    ``clean_fn`` is any batch operator ``DataFrame -> (clean_df, log_df)``;
    each micro-batch runs it once and writes BOTH sinks via foreachBatch —
    the shared intermediate is computed per batch, never twice, and the
    audit log stays exactly-once alongside the data (same epoch id).
    """

    def write_both(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df = batch_df.persist()
        try:
            clean, logs = clean_fn(batch_df)
            clean.write.mode("append").parquet(clean_path)
            logs.write.mode("append").parquet(logs_path)
        finally:
            batch_df.unpersist()

    return (
        stream_df.writeStream.foreachBatch(write_both)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_upsert_sink(
    stream_df: DataFrame,
    *,
    path: str,
    key: list[str],
    order_cols: list[str],
    checkpoint: str,
    partition_by: list[str] | None = None,
    post_batch_hook=None,
) -> "StreamingQuery":  # noqa: F821
    """CDC-style keyed streaming sink: every micro-batch MERGEs into a
    parquet state table through ``io.store.upsert_parquet``, keeping the
    LATEST row per key by ``order_cols`` (compared lexicographically, so
    pass a total order like ``["ts", "event_id"]``).

    ``post_batch_hook(epoch_id)``, when given, runs after the state
    merge but BEFORE Spark commits the batch to the checkpoint — a
    hook that raises simulates a crash inside foreachBatch's
    at-least-once window (state written, offset not committed), which
    is exactly the replay the keep-latest filter must absorb. Used by
    the restart test; production callers can use it for metrics.

    Convergence is deliberately independent of micro-batch boundaries and
    file listing order: each batch is first reduced to its own latest row
    per key, then rows that do NOT beat the state table's current row for
    that key are dropped BEFORE the merge — an out-of-order or replayed
    batch can never regress the table. Combined with the checkpointed
    file source this gives exactly-once convergence under restarts: a
    re-run with the same checkpoint re-processes nothing; a replayed
    batch (foreachBatch's at-least-once window after a crash) is
    absorbed idempotently by the keep-latest filter.

    Scale: the per-batch reduction shuffles only the batch on the key;
    the anti-regression check reads the state table pruned to key +
    order columns; the merge itself is ``upsert_parquet``'s
    partition-pruned copy-on-write (pass ``partition_by`` for a 100-TB
    state table so only touched partitions rewrite).
    """
    import os

    from pyspark.sql import Window

    from assignment_etl_spark.io.store import upsert_parquet

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        ordv = F.struct(*[F.col(c) for c in order_cols])
        w = Window.partitionBy(*key).orderBy(F.desc(ordv))
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if os.path.exists(path):
            cur = (
                spark.read.parquet(path)
                .select(*key, ordv.alias("_cur_ord"))
            )
            latest = (
                latest.join(cur, on=key, how="left")
                .filter(F.col("_cur_ord").isNull() | (ordv > F.col("_cur_ord")))
                .drop("_cur_ord")
            )
        # sever lineage from `path`, releasing the checkpoint post-write
        with released_local_checkpoint(latest) as latest_ck:
            if not latest_ck.isEmpty():
                upsert_parquet(
                    spark, path, latest_ck, key, partition_by=partition_by
                )
        if post_batch_hook is not None:
            post_batch_hook(epoch_id)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_hll_sink(
    stream_df: DataFrame,
    *,
    col: str,
    path: str,
    checkpoint: str,
    by: list[str] | str | None = None,
    p: int = 10,
) -> "StreamingQuery":  # noqa: F821
    """Streaming distinct-count maintenance: every micro-batch is
    sketched (ext/sketch.hll_sketch) and MAX-merged into a persistent
    register table — the mergeable-summary pattern that gives streaming
    cardinalities without keyed state growth (state is ≤ 2^p rows per
    group forever). Max-merge is idempotent, so a replayed batch
    (foreachBatch's at-least-once window) cannot inflate the estimate —
    exactly-once convergence without coordination, and the final
    registers equal the one-shot batch sketch bit-for-bit regardless of
    batch boundaries."""
    import os

    from assignment_etl_spark.ext.sketch import hll_merge, hll_sketch
    from assignment_etl_spark.io.store import atomic_overwrite_parquet

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        regs = hll_sketch(batch_df, col, by=by, p=p)
        if os.path.exists(path):
            regs = hll_merge(spark.read.parquet(path), regs, by=by)
            with released_local_checkpoint(regs) as regs_ck:
                atomic_overwrite_parquet(regs_ck, path)
        else:
            regs.write.parquet(path)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_bin_count_sink(
    stream_df: DataFrame,
    *,
    bin_col,
    path: str,
    checkpoint: str,
) -> "StreamingQuery":  # noqa: F821
    """Streaming histogram maintenance for drift monitoring: each
    micro-batch's (bin, n) counts land in an epoch=N partition via
    DYNAMIC partition overwrite — a replayed batch (foreachBatch's
    at-least-once window) replaces its own epoch instead of
    double-counting, so the accumulated counts converge exactly even
    though sum-merge itself is not idempotent (contrast stream_hll_sink,
    whose max-merge is). Read back with
    ``spark.read.parquet(path).groupBy("bin").sum`` or feed
    ext/drift.psi_profile_from_counts for a live PSI against a pinned
    reference snapshot. State is ≤ n_bins rows per epoch forever."""
    from assignment_etl_spark.ext.drift import bin_counts

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        counts = bin_counts(batch_df, bin_col).withColumn(
            "epoch", F.lit(int(epoch_id))
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            counts.write.mode("overwrite").partitionBy("epoch").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_jdbc_upsert_sink(
    stream_df: DataFrame,
    *,
    url: str,
    table: str,
    keys: list[str],
    order_cols: list[str],
    checkpoint: str,
    properties: dict[str, str] | None = None,
) -> "StreamingQuery":  # noqa: F821
    """Stream → relational mart with exactly-once convergence: each
    micro-batch reduces to its latest row per key (total order via
    ``order_cols``), then lands through ONE atomic server-side MERGE
    (io/jdbc.upsert_jdbc). MERGE is keyed, so a replayed batch
    (foreachBatch's at-least-once window) rewrites the same rows to the
    same values instead of duplicating them — the property a JDBC
    ``append`` sink can never give. Out-of-order batches (the file
    source lists by modification time, not key order) are absorbed by
    the same anti-regression guard as the parquet twin
    (stream_upsert_sink): batch rows that do not beat the table's
    current order value for their key are dropped BEFORE the merge, so
    the table can never regress. The target table must already exist."""
    from pyspark.sql import Window

    from assignment_etl_spark.io.jdbc import read_jdbc, upsert_jdbc

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        ordv = F.struct(*[F.col(c) for c in order_cols])
        w = Window.partitionBy(*keys).orderBy(F.desc(ordv))
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        cur = read_jdbc(spark, url, table, properties=properties).select(
            *keys, ordv.alias("_cur_ord")
        )
        latest = (
            latest.join(cur, on=keys, how="left")
            .filter(F.col("_cur_ord").isNull() | (ordv > F.col("_cur_ord")))
            .drop("_cur_ord")
        )
        # sever lineage before we mutate, releasing the checkpoint after
        with released_local_checkpoint(latest) as latest_ck:
            upsert_jdbc(
                latest_ck,
                url,
                table,
                keys,
                properties=properties,
                num_partitions=4,
            )

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_cm_sink(
    stream_df: DataFrame,
    *,
    col: str,
    path: str,
    checkpoint: str,
    w: int = 512,
    d: int = 4,
) -> "StreamingQuery":  # noqa: F821
    """Streaming frequency maintenance: each micro-batch is Count-Min
    sketched and written to its own epoch partition (dynamic overwrite →
    replay-idempotent, the stream_bin_count_sink recipe), so the
    accumulated counters — ``read.parquet(path).groupBy("r","bucket")
    .sum("n")`` — equal the one-shot batch sketch EXACTLY (sum-merge is
    associative/commutative). State is ≤ d×w rows per epoch forever;
    feed the merged sketch to ext/sketch.cm_estimate for live
    heavy-hitter queries."""
    from assignment_etl_spark.ext.sketch import cm_sketch

    def write_batch(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        counts = cm_sketch(batch_df, col, w=w, d=d).withColumn(
            "epoch", F.lit(int(epoch_id))
        )
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            counts.write.mode("overwrite").partitionBy("epoch").parquet(path)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    return (
        stream_df.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def run_streaming_query_once(
    stream_df: DataFrame,
    *,
    output_mode: str = "append",
    table_name: str = "stream_out",
) -> DataFrame:
    """Drain a bounded stream with availableNow into an in-memory sink and
    return the materialized result — the batch-equivalence harness used by
    the correctness gate (the same frame computed in batch must hash-match).
    """
    spark = stream_df.sparkSession
    with tempfile.TemporaryDirectory() as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(table_name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(table_name)
