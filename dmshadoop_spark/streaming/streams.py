"""Structured Streaming forms of the ST* operators (SURVEY.md §2.10).

The batch forms in queries/events.py are the oracle-checked semantics; the
functions here run the *same logical expressions* under ``readStream`` —
watermarked, checkpointed, incremental. Tests verify stream output ==
batch output on the same input (availableNow trigger drains the source and
stops, which is exactly the batch-parity contract Spark documents).

At production scale the source becomes Kafka/Kinesis with the identical
transform graph; watermark bounds state, and the windowed aggregations
shuffle on (window, key) like their batch twins.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
)

EVENTS_STREAM_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampNTZType()),
        StructField("user_id", LongType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
        StructField("props", StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession,
    events_dir: str,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """File-source stream over parquet files with the events schema.

    ``max_files_per_trigger=1`` exercises multi-micro-batch behavior.
    NOTE on watermarks: files arrive in arbitrary event-time order, so
    per-file triggers make the watermark drop genuinely late rows — correct
    streaming semantics, but only order-insensitive aggregations (tumbling
    windows in complete mode, dedup) stay batch-equivalent under it.
    Session windows need event-time-ordered arrival (or one batch:
    ``max_files_per_trigger=None``) for exact batch parity.

    (The driver testdata stores ts as TIMESTAMP(NANOS), which the batch
    catalog handles via nanosAsLong; for streaming tests the input dir is
    produced by re-writing events through the catalog first, so ts is a
    plain NTZ column here.)"""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(events_dir)
    # Watermarks require TIMESTAMP (event-time), not NTZ: reinterpret the
    # wall time in the session zone (UTC under session.py defaults).
    return stream.withColumn("ts", F.col("ts").cast("timestamp"))


def streaming_tumbling_counts(events: DataFrame) -> DataFrame:
    """ST1 under streaming: watermark + tumbling window counts.

    Window starts surface as TIMESTAMP_NTZ: the stream computes on LTZ
    event time (watermarks require it), but a collected LTZ value renders
    in the CLIENT PROCESS's zone — under TZ=America/New_York the same
    result would read 4-5h off against a naive-wall-time oracle. The
    session zone is UTC (session.py), so the cast is the identity
    reinterpretation back to wall time."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("w_start"),
            "event_type",
            "cnt",
        )
    )


def streaming_sliding_counts(events: DataFrame) -> DataFrame:
    """ST2 under streaming: watermarked sliding windows (10-minute window,
    5-minute slide) — each event contributes to window_len/slide windows;
    state is bounded by the watermark."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"),
            F.col("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def streaming_session_counts(events: DataFrame) -> DataFrame:
    """ST3 under streaming: watermarked session windows (5-minute gap).
    State = one open session per user, closed and emitted once the
    watermark passes session end."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "5 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("session_start"),
            "user_id",
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame) -> DataFrame:
    """ST5 under streaming: stateful dropDuplicates bounded by watermark."""
    return events.withWatermark("ts", "10 minutes").dropDuplicates(
        ["user_id", "event_type"]
    )


def streaming_stream_static_join(events: DataFrame, dim: DataFrame) -> DataFrame:
    """ST6 under streaming: stream ⋈ broadcast static dimension."""
    return events.join(broadcast(dim), "event_type").select(
        "event_id", "event_type", "weight"
    )


def streaming_interval_join(
    clicks: DataFrame, purchases: DataFrame
) -> DataFrame:
    """ST8: stream⋈stream event-time interval join — each purchase
    attributes to clicks by the same user within the preceding 10
    minutes. Watermarks on BOTH sides let Spark expire join state: a
    click older than watermark - 10min can never match again and is
    dropped. This is the canonical attribution join; state is bounded by
    (watermark delay + interval) × arrival rate per side."""
    c = clicks.withWatermark("ts", "10 minutes").select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.withWatermark("ts", "10 minutes").select(
        F.col("user_id").alias("p_user_id"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    cond = (
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr("INTERVAL 10 MINUTES")
        )
    )
    return c.join(p, cond).select("user_id", "click_id", "purchase_id")


def streaming_user_totals_stateful(events: DataFrame) -> DataFrame:
    """ST7: custom stateful operator via ``applyInPandasWithState`` — the
    escape hatch for per-key streaming logic Spark's built-in windowed
    aggregations can't express (SURVEY.md §2.10 has no reference
    counterpart; the brief's "custom stateful operators" slot).

    Keeps one cumulative (n_events, max_value, n_updates) state row per
    user and emits the running totals each micro-batch the user appears
    in; the LAST emission per user (max n_updates — monotone) therefore
    equals the batch groupBy over the full input, which is what makes
    this oracle-checkable despite being a stateful stream. State is one
    tiny tuple per key, Arrow-batched per group — at scale the shuffle
    key is user_id (uniform), and state size is O(distinct users), the
    same bound as the built-in aggregations.

    Only order-insensitive accumulators (count, max) — a running double
    sum would depend on batch arrival order and break exact parity."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "user_id bigint, n_events bigint, max_value double, n_updates int"
    )
    state_schema = "n bigint, mx double, upd int"

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, mx, upd = state.get if state.exists else (0, None, 0)
        for pdf in pdfs:
            n += len(pdf)
            batch_max = pdf["value"].max()
            if batch_max is not None and not pd.isna(batch_max):
                mx = float(batch_max) if mx is None else max(mx, float(batch_max))
        upd += 1
        state.update((n, mx, upd))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "max_value": [mx],
                "n_updates": [upd],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        out_schema,
        state_schema,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def run_to_memory(
    df: DataFrame,
    checkpoint_dir: str,
    output_mode: str = "append",
    query_name: str | None = None,
) -> str:
    """Drain the stream with availableNow into an in-memory table; returns
    the table name. Blocks until the source is exhausted."""
    name = query_name or f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return name


def streaming_dedup_within_watermark(events: DataFrame) -> DataFrame:
    """ST9: ``dropDuplicatesWithinWatermark`` — the state-bounded dedup for
    sources whose duplicates carry *different* event times (retries,
    at-least-once redelivery), where plain ``dropDuplicates`` would keep
    state forever waiting for an exact-timestamp match. State per key is
    evicted once the watermark passes first-seen + delay, so memory is
    bounded by (delay × arrival rate) at any scale. With a delay covering
    the full test input span every duplicate lands inside its key's
    window, making the output exactly the distinct key set — the
    batch-parity contract the oracle checks."""
    return events.withWatermark("ts", "365 days").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def run_foreach_batch_upsert(
    stream: DataFrame, state_dir: str, checkpoint_dir: str
) -> None:
    """ST10: ``foreachBatch`` upsert sink — the standard pattern for
    maintaining a keyed serving table from a stream when the sink format
    has no native merge. Each micro-batch reduces to one latest-row per
    key (max of a (ts, event_id, value) struct — order-insensitive, so
    batch boundaries can't change the outcome), merges with the previous
    state snapshot, and atomically swaps the snapshot directory. At scale
    the snapshot is a partitioned table and the merge is a key-bucketed
    join; the commutative-reduce-then-merge shape is what makes restarts
    and at-least-once redelivery idempotent. Blocks until the source is
    drained (availableNow).

    The swap keeps its own rename-aside instead of committing through
    ``dmshadoop_spark/generations.py``, the protocol ``DocumentStore``
    uses: the sink's public output is ``state_dir`` itself, a plain
    parquet directory that callers read with ``spark.read.parquet``
    (st10 and its tests do). Generations would put ``gen=N/``
    children under it, and Spark's partition discovery would surface
    those as a ``gen`` column of every read."""
    import os
    import shutil

    from dmshadoop_spark.operators.merge import merge_into

    latest = F.max(
        F.struct(
            F.col("ts").cast("timestamp_ntz").alias("last_ts"),
            F.col("event_id").alias("last_event_id"),
            F.col("value").alias("last_value"),
        )
    ).alias("s")

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # Crash recovery: a failure between the two swap renames below can
        # leave only the .old snapshot — restore it before reading.
        if not os.path.isdir(state_dir) and os.path.isdir(state_dir + ".old"):
            os.rename(state_dir + ".old", state_dir)
        upd = batch_df.groupBy("user_id").agg(latest)
        if os.path.isdir(state_dir):
            prev = spark.read.parquet(state_dir)
            prev = prev.select(
                "user_id",
                F.struct(
                    "last_ts", "last_event_id", "last_value"
                ).alias("s"),
            )
            # MERGE the batch delta into the snapshot (operators/merge.py,
            # round-5 unification — this replaced a bespoke union+re-reduce
            # rewrite). matched_update takes greatest(target.s, source.s),
            # which keeps the commutative-reduce property that makes
            # checkpoint replays idempotent: re-merging an already-applied
            # batch is a no-op because max is. Same single-shuffle cost —
            # one full-outer join on the key instead of union+groupBy.
            upd = merge_into(
                prev,
                upd,
                on=["user_id"],
                matched_update={
                    "s": F.greatest(
                        F.col("__mrg_t.s"), F.col("__mrg_s.s")
                    )
                },
            )
        tmp = state_dir + ".tmp"
        upd.select("user_id", "s.*").write.mode("overwrite").parquet(tmp)
        # Swap via rename-aside so no failure point loses the accumulated
        # state: the old snapshot survives (as .old) until the new one is
        # in place; a crash mid-swap leaves either the old dir or the new
        # dir readable, and the Structured Streaming checkpoint replays the
        # batch on restart (the commutative reduce makes that idempotent).
        old = state_dir + ".old"
        if os.path.isdir(old):
            shutil.rmtree(old)
        if os.path.isdir(state_dir):
            os.rename(state_dir, old)
        os.rename(tmp, state_dir)
        if os.path.isdir(old):
            shutil.rmtree(old)

    q = (
        stream.writeStream.foreachBatch(merge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def write_two_phase_source(
    spark: SparkSession, events: DataFrame, src_dir: str
) -> None:
    """Lay out ``events`` as a three-file stream source with a controlled
    arrival order — the harness for a REAL late-data drop (st15).

    File A ("on-time") carries everything except the late set; file B is
    EMPTY (schema only); file C ("late") carries rows that are either
    ≥48 hours older than the global max ts (guaranteed BELOW the
    24-hour watermark file A sets — window end ≤ max−48h+5min, a >23 h
    margin under the max−24h watermark) or within (max−12h, max)
    (guaranteed ABOVE it — window end > max−12h, a 12 h margin). Every
    C row therefore sits hours clear of the watermark boundary, so the
    drop set is deterministic regardless of Spark's </≤ eviction edge
    semantics, and the global-max row always stays in A (C's upper tier
    is strictly < max), so the watermark is max−24h exactly. The tier
    widths are fixture-driven: the events table is sparse near its max
    ts (nothing within 60 min at sf0.001), so minute-scale tiers left
    the admitted-late side empty — hour-scale tiers exercise BOTH drop
    and admit at every SF.

    WHY THE EMPTY MIDDLE FILE (measured on this Spark, pinned by the
    st15 oracle): the stateful aggregation's LATE-INPUT FILTER runs on
    the watermark committed before the PREVIOUS batch — one batch
    behind the eviction watermark the progress log shows. A late file
    in batch 1 is filtered against the initial zero watermark and
    admitted wholesale (observed: numRowsDroppedByWatermark=0, counts
    incremented); the same file in batch 2 is dropped correctly. The
    empty batch advances the filter watermark to max(A)−24h without
    adding data or moving the max. Arrival order is pinned by file
    modification times (the file source processes oldest-mtime first)."""
    import glob
    import os
    import shutil
    import time as _time

    mx = events.agg(F.max("ts").alias("m"))
    flagged = events.crossJoin(broadcast(mx)).withColumn(
        "_late",
        (F.col("event_id") % 7 == 3)
        & (
            (F.col("ts") <= F.col("m") - F.expr("INTERVAL 48 HOURS"))
            | (
                (F.col("ts") > F.col("m") - F.expr("INTERVAL 12 HOURS"))
                & (F.col("ts") < F.col("m"))
            )
        ),
    )
    os.makedirs(src_dir, exist_ok=True)
    for f in glob.glob(f"{src_dir}/*.parquet"):
        os.remove(f)
    now = _time.time()
    parts = (
        ("a_ontime", flagged.filter(~F.col("_late")), 300),
        ("b_filler", flagged.filter(F.lit(False)), 200),
        ("c_late", flagged.filter(F.col("_late")), 100),
    )
    for name, part_df, age in parts:
        part_dir = f"{src_dir}/_stage_{name}"
        (
            part_df.drop("_late", "m")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(part_dir)
        )
        part = glob.glob(f"{part_dir}/part-*.parquet")[0]
        dest = f"{src_dir}/{name}.parquet"
        shutil.move(part, dest)
        shutil.rmtree(part_dir)
        os.utime(dest, (now - age, now - age))


def streaming_latedrop_counts(events: DataFrame) -> DataFrame:
    """ST15: the watermarked tumbling count whose LATE INPUT IS ACTUALLY
    DROPPED — st12 drains in complete mode (watermark bounds state but a
    single drain still aggregates everything); this one runs in UPDATE
    mode over the two-phase source (write_two_phase_source), where the
    early commits advance the watermark to max(A)−24h and the late
    batch's below-watermark rows are discarded by the stateful
    aggregation exactly as a production stream discards stragglers."""
    return (
        events.withWatermark("ts", "24 hours")
        .groupBy(F.window("ts", "5 minutes").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("w_start"),
            "event_type",
            "cnt",
        )
    )
