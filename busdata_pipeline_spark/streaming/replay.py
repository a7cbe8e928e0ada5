"""Deterministic watermark-behavior replay: run a REAL Structured
Streaming query over a controlled sequence of micro-batches so the
late-data drop/keep decision becomes driver-visible and oracle-checkable
(reference behavior: the subscriber keeps day files open for late
arrivals, /root/reference/data_subscriber.py:58-64 — a watermark is the
bounded-state version of that policy, and this pins down EXACTLY which
rows it sacrifices).

Empirically verified semantics on this Spark version (probe in
tests/test_streaming.py::test_watermark_replay_semantics):

- FileStreamSource with ``maxFilesPerTrigger=1`` processes one file per
  micro-batch, ordered by file modification time (pinned with utime).
- The stateful-operator LATE filter in batch N uses the watermark
  computed from batches <= N-2 (it lags the displayed/eviction watermark
  by one batch — Spark's two-watermark design for chained stateful
  operators).  A late row is dropped iff its window END <= that
  watermark.
- On availableNow termination a final no-data micro-batch advances the
  watermark to max(all event times) - delay and append-mode emits every
  window with END <= it; windows above it stay in state and never emit.

So with batches [on_time, filler, late, future]:
  wm_late(late batch)  = max(ts in on_time + filler) - delay
  dropped              = late rows with window_end <= wm_late
  emitted              = windows with window_end <= max(ts in future) - delay
which an ANSI-SQL oracle can state exactly.

The replay protocol lives here and nowhere else: ``replay_scratch``
takes a ``scratch_dir`` (busdata_pipeline_spark/scratch.py) and pins
the confs, ``stage_batches`` / ``staged_stream`` stage one file per
micro-batch, ``drain`` (memory sink) or ``await_or_raise`` (any other
sink) waits for the ``availableNow`` query with a bound, and the
result is materialized with ``localCheckpoint(eager=True)`` before
the scratch dir, the temp view and the confs are released.  A query
that does not finish in time is stopped and raises ``TimeoutError``; no
caller ever reads a half-filled sink.
"""


from __future__ import annotations

import glob
import os
import shutil
import uuid
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from busdata_pipeline_spark.scratch import scratch_dir


@contextmanager
def replay_scratch(spark: SparkSession, prefix: str,
                   confs: dict[str, str] | None = None) -> Iterator[str]:
    """Yield a ``scratch_dir`` with ``confs`` pinned on the session; on
    exit restore each conf (unset it if it was unset before), then the
    dir goes.

    ``spark.sql.shuffle.partitions`` is always pinned to 8: the
    state-store partition count is fixed per checkpoint at first run,
    and a vanilla 200-partition session makes every micro-batch run 200
    tiny stateful tasks.  Each replay is its own query with a fresh
    checkpoint, so it can pin a small count and restore afterwards."""
    pinned = {"spark.sql.shuffle.partitions": "8", **(confs or {})}
    prev = {k: spark.conf.get(k, None) for k in pinned}
    with scratch_dir(prefix) as scratch:
        try:
            for k, v in pinned.items():
                spark.conf.set(k, v)
            yield scratch
        finally:
            for k, v in prev.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def stage_batches(batches: list[DataFrame], stream_dir: str,
                  fmt: str = "parquet") -> None:
    """Write each of ``batches`` as exactly one ``fmt`` file into
    ``stream_dir`` with strictly increasing mtimes: FileStreamSource
    orders by modification time, so with ``maxFilesPerTrigger=1`` batch
    i is micro-batch i."""
    os.makedirs(stream_dir, exist_ok=True)
    for seq, df in enumerate(batches):
        stage = f"{stream_dir}.stage_{seq}"
        df.coalesce(1).write.mode("overwrite").format(fmt).save(stage)
        parts = glob.glob(os.path.join(stage, "part-*"))
        assert len(parts) == 1, "coalesce(1) must produce one file"
        dest = os.path.join(stream_dir, f"batch_{seq}.{fmt}")
        shutil.move(parts[0], dest)
        shutil.rmtree(stage)
        t = 1_000_000 + seq * 1000
        os.utime(dest, (t, t))


def staged_stream(spark: SparkSession, batches: list[DataFrame],
                  stream_dir: str, schema: str) -> DataFrame:
    """Stage ``batches``, projected to the columns of the flat DDL
    ``schema``, and return a parquet file stream over them admitting
    one file per micro-batch."""
    cols = [f.split()[0] for f in schema.split(",")]
    stage_batches([b.select(*cols) for b in batches], stream_dir)
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stream_dir)
    )


def await_or_raise(q, timeout: float) -> None:
    """awaitTermination returning False means the query is STILL
    RUNNING — reading the sink then would return a partial result and
    leak the query.  Stop it and fail loudly instead."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"streaming query {q.name or q.id} did not finish within "
            f"{timeout}s; refusing to read a partially-filled sink"
        )


def drain(stream: DataFrame,
          finish: Callable[[DataFrame], DataFrame] = lambda t: t,
          output_mode: str = "append", checkpoint: str | None = None,
          timeout: float = 300) -> DataFrame:
    """Run ``stream`` with availableNow into a memory sink, wait at most
    ``timeout`` s (``await_or_raise``), and return ``finish(sink)``
    materialized; the sink's temp view is dropped on every path."""
    spark = stream.sparkSession
    name = "replay_" + uuid.uuid4().hex
    writer = (
        stream.writeStream.format("memory").queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    q = writer.start()
    try:
        await_or_raise(q, timeout)
        return finish(spark.table(name)).localCheckpoint(eager=True)
    finally:
        spark.catalog.dropTempView(name)


def watermark_replay(spark: SparkSession, batches: list[DataFrame],
                     delay: str = "2 hours",
                     width: str = "1 hour") -> DataFrame:
    """Replay ``batches`` (each a (ts, value) DataFrame) one per
    micro-batch through withWatermark + tumbling window count in append
    mode; return the emitted (finalized) windows as a materialized batch
    DataFrame.  Everything is deterministic: file order is pinned by
    mtime, batch admission by maxFilesPerTrigger=1, and the drop/emit
    boundaries follow the module-docstring semantics."""
    with replay_scratch(spark, "wm_replay_") as scratch:
        src = staged_stream(spark, batches, f"{scratch}/stream",
                            "ts timestamp, value double")
        agg = (
            src.withWatermark("ts", delay)
            .groupBy(F.window("ts", width).alias("w"))
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 2).alias("total_value"),
            )
            .select(
                F.col("w.start").alias("window_start"),
                "n_events",
                "total_value",
            )
        )
        return drain(agg, checkpoint=f"{scratch}/ckpt")


def _interval_join(spark: SparkSession, scratch: str,
                   left_batches: list[DataFrame],
                   right_batches: list[DataFrame],
                   delay: str, lookback: str, how: str) -> DataFrame:
    """Stage both sides (batch i of each is micro-batch i) and join them
    as watermarked file streams: left rows match right rows of the same
    ``user_id`` with ``rts ∈ [lts - lookback, lts]``."""
    assert len(left_batches) == len(right_batches)
    schema = "user_id bigint, ts timestamp, value double"

    def side(batches: list[DataFrame], p: str) -> DataFrame:
        return (
            staged_stream(spark, batches, f"{scratch}/{p}", schema)
            .select(
                F.col("user_id").alias(f"{p}_user"),
                F.col("ts").alias(f"{p}ts"),
                F.col("value").alias(f"{p}val"),
            )
            .withWatermark(f"{p}ts", delay)
        )

    return side(left_batches, "l").join(
        side(right_batches, "r"),
        (F.col("l_user") == F.col("r_user"))
        & (F.col("rts") >= F.col("lts") - F.expr(f"INTERVAL {lookback}"))
        & (F.col("rts") <= F.col("lts")),
        how,
    )


def stream_join_replay(spark: SparkSession,
                       left_batches: list[DataFrame],
                       right_batches: list[DataFrame],
                       delay: str = "1 hour",
                       lookback: str = "2 hours") -> DataFrame:
    """Replay a watermarked STREAM-STREAM inner interval join (click →
    trailing-view attribution): left rows match right rows of the same
    ``user_id`` with ``rts ∈ [lts - lookback, lts]``.

    Both sources are file streams admitting one file per micro-batch
    (mtime-ordered, like ``watermark_replay``); batch i consumes
    ``left_batches[i]`` and ``right_batches[i]`` together.  Inner-join
    pairs emit in the first micro-batch where both sides are present;
    watermark-evicted state and late input produce nothing — callers
    stage late batches ≥ 2 full batches after their partners so the
    drop decision has clean margins (no reliance on the exact
    one-batch watermark lag; see module docstring).

    Each input DataFrame must have columns (user_id, ts, value).
    Returns the emitted pairs aggregated per click hour — a
    deterministic, oracle-checkable shape.
    """
    with replay_scratch(spark, "sj_replay_") as scratch:
        pairs = _interval_join(spark, scratch, left_batches, right_batches,
                               delay, lookback, "inner")
        return drain(
            pairs,
            lambda t: t.groupBy(
                F.date_trunc("hour", "lts").alias("click_hour")
            ).agg(
                F.count(F.lit(1)).alias("n_pairs"),
                F.round(F.sum("rval"), 2).alias("view_value"),
            ),
            checkpoint=f"{scratch}/ckpt",
        )


def dedup_replay(spark: SparkSession, batches: list[DataFrame],
                 delay: str = "26 hours") -> DataFrame:
    """Replay ``batches`` (each (event_id, ts, value)) through a REAL
    streaming ``dropDuplicatesWithinWatermark`` on event_id — the
    bounded-state exactly-once filter a redelivering transport needs
    (reference behavior: Pub/Sub redelivers on missed ack,
    /root/reference/data_subscriber.py:107-110; the reference relies on
    daily-table rebuilds to mask duplicates, here the stream itself
    dedups).

    The state bound is the point at scale: a key is held only until the
    watermark passes its event time + ``delay``, so state is
    O(keys-per-delay-window), not O(all keys ever).  Callers must stage
    redeliveries within ``delay`` of the original (the operator's
    documented contract — this harness's default 26h covers a full-day
    replay); each emitted row is the first-seen copy, and since
    redelivered rows are byte-identical the emitted set is exactly the
    distinct input.
    """
    with replay_scratch(spark, "dd_replay_") as scratch:
        src = staged_stream(spark, batches, f"{scratch}/stream",
                            "event_id bigint, ts timestamp, value double")
        deduped = (
            src.withWatermark("ts", delay)
            .dropDuplicatesWithinWatermark(["event_id"])
        )
        return drain(deduped, checkpoint=f"{scratch}/ckpt")


def cdc_merge_replay(spark: SparkSession, target_init: DataFrame,
                     batches: list[DataFrame], key: str,
                     schema_ddl: str) -> DataFrame:
    """Replay ordered CDC batches (rows carry an ``op`` column:
    insert/update/delete) through a REAL streaming ``foreachBatch`` that
    MERGEs each micro-batch into a parquet target — the lakehouse
    change-data-apply loop (streaming source -> foreachBatch ->
    ``operators.warehouse.merge_into`` -> atomic target rewrite).

    Ordering is pinned the same way as every replay here (file mtime +
    maxFilesPerTrigger=1 => one CDC batch per micro-batch, applied
    sequentially).  Exactly-once effect under checkpointed redelivery:
    re-merging an already-applied batch is a no-op (updates re-assert
    the same values, deletes find nothing, inserts match-and-replace),
    so the handler is idempotent per batch — the same contract as
    ``stream_into_jdbc``'s keyed mode.

    Scale: each merge is one co-partitioned full-outer join sized by
    target + delta (AQE broadcasts small deltas); the rewrite is the
    local stand-in for a table-format transactional commit — swap in a
    manifest/version commit on a real lakehouse and the loop is
    unchanged.  Returns the final target as a materialized DataFrame.
    """
    from busdata_pipeline_spark.operators.warehouse import merge_into

    with replay_scratch(spark, "cdc_merge_") as scratch:
        target = f"{scratch}/target"
        target_init.write.mode("overwrite").parquet(target)
        src = staged_stream(spark, batches, f"{scratch}/stream", schema_ddl)

        def handle(batch: DataFrame, batch_id: int) -> None:
            if batch.isEmpty():
                return
            s = batch.sparkSession
            tgt = s.read.parquet(target)
            # localCheckpoint materializes the merge BEFORE the target
            # dir is overwritten (read-then-overwrite-same-path hazard).
            merged = merge_into(tgt, batch, key=key).localCheckpoint(
                eager=True
            )
            merged.write.mode("overwrite").parquet(target)

        q = (
            src.writeStream.foreachBatch(handle)
            .option("checkpointLocation", f"{scratch}/ckpt")
            .trigger(availableNow=True)
            .start()
        )
        await_or_raise(q, 300)
        return spark.read.parquet(target).localCheckpoint(eager=True)


def stream_left_join_replay(spark: SparkSession,
                            left_batches: list[DataFrame],
                            right_batches: list[DataFrame],
                            delay: str = "1 hour",
                            lookback: str = "2 hours") -> DataFrame:
    """LEFT OUTER watermarked stream-stream interval join: matched pairs
    emit like the inner form (stream_join_replay); unmatched left rows
    emit ONCE with a NULL right side, only after the watermark proves no
    match can still arrive — the semantics that make outer stream joins
    hard (state must be held exactly until the interval is sealed).

    Two far-future seal batches are staged after the data: the first
    advances the watermark past every real interval, the second gives
    the engine the extra micro-batch in which watermark-expired left
    state is scanned and null-emitted (eviction happens on the batch
    AFTER the watermark moves).  Seal rows carry user_id < 0 and are
    filtered from the result; they themselves never emit (their own
    intervals stay open at query end — by design).

    Inputs: (user_id, ts, value) per batch.  Returns per click-hour:
    n_clicks / n_matched / summed matched value.
    """
    seal = spark.range(1).select(
        F.lit(-1).cast("bigint").alias("user_id"),
        F.lit("2024-03-01 00:00:00").cast("timestamp").alias("ts"),
        F.lit(0.0).alias("value"),
    )
    with replay_scratch(spark, "slj_replay_") as scratch:
        pairs = _interval_join(
            spark, scratch, [*left_batches, seal, seal],
            [*right_batches, seal, seal], delay, lookback, "left_outer",
        )
        return drain(
            pairs,
            lambda t: t.where(F.col("l_user") >= 0)
            .groupBy(F.date_trunc("hour", "lts").alias("click_hour"))
            .agg(
                F.count(F.lit(1)).alias("n_clicks"),
                F.count("rval").alias("n_matched"),
                F.round(F.coalesce(F.sum("rval"), F.lit(0.0)), 2)
                .alias("view_value"),
            )
            .orderBy("click_hour"),
            checkpoint=f"{scratch}/ckpt",
        )


def ewma_stream_replay(spark: SparkSession, batches: list[DataFrame],
                       alpha: float = 0.3) -> DataFrame:
    """Replay time-ordered batches of (event_id, ts, user_id, value)
    through a stateful streaming EWMA (applyInPandasWithState): per-user
    state is ONE double (the running smoothed value), each micro-batch
    folds its rows in (ts, event_id) order on top of that state.

    Because the recurrence is associative over a prefix split
    (s carries), the streaming run over any time-boundary batch split is
    bit-identical to the batch operator (operators/temporal.ewma_smooth)
    over the concatenation — the strongest equivalence a stateful
    streaming op can offer, and exactly what the strict oracle checks.
    State per key is O(1); the stateful shuffle keys on user_id only.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    one_minus = 1.0 - alpha
    cols = ["event_id", "ts", "user_id", "value"]

    def smooth(key, pdfs, state):
        import pandas as pd

        s = state.get[0] if state.exists else None
        frames = [p for p in pdfs]
        pdf = pd.concat(frames) if frames else pd.DataFrame(columns=cols)
        pdf = pdf.sort_values(["ts", "event_id"], kind="mergesort")
        out = []
        for x in pdf["value"].to_numpy():
            xv = float(x)
            s = xv if s is None else one_minus * s + alpha * xv
            out.append(s)
        if s is not None:
            state.update((float(s),))
        yield pd.DataFrame({
            "event_id": pdf["event_id"].to_numpy(),
            "user_id": pdf["user_id"].to_numpy(),
            "ewma": out,
        })

    with replay_scratch(spark, "ewma_replay_") as scratch:
        src = staged_stream(
            spark, batches, f"{scratch}/stream",
            "event_id long, ts timestamp, user_id long, value double",
        )
        res = (
            src.where(F.col("value").isNotNull())
            .groupBy("user_id")
            .applyInPandasWithState(
                smooth,
                "event_id long, user_id long, ewma double",
                "s double",
                "update",
                GroupStateTimeout.NoTimeout,
            )
        )
        return drain(res, output_mode="update",
                     checkpoint=f"{scratch}/ckpt")
