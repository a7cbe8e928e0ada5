"""Custom stateful streaming operator — live per-trip progress tracking
via ``applyInPandasWithState``.

The reference's subscriber accumulates per-day state in open file handles
and only produces trip-level facts when the batch transform runs at
shutdown (/root/reference/data_subscriber.py:49-56,122-143).  A streaming
engine can do better: maintain per-trip running state ACROSS micro-batches
and emit an updated trip summary every time new pings arrive — the
"custom stateful operator" tier that tumbling/session windows
(streaming/windows.py) can't express, because the aggregate (odometer
span from arbitrary-order pings) folds over all history per key.

State per trip is four scalars (count, odometer min/max, time min/max) —
bounded per key regardless of volume, hash-partitioned by trip_id across
the cluster's state stores.  Arrow moves each group's rows in columnar
batches; the per-group fold is numpy, not per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

#: Persistent per-trip state: ping count, odometer span, time span.
TRIP_STATE = T.StructType([
    T.StructField("n_pings", T.LongType()),
    T.StructField("min_meters", T.DoubleType()),
    T.StructField("max_meters", T.DoubleType()),
    T.StructField("min_time", T.LongType()),
    T.StructField("max_time", T.LongType()),
])

#: Emitted on every micro-batch that touches the trip (update mode).
TRIP_PROGRESS = T.StructType([
    T.StructField("trip_id", T.LongType()),
    T.StructField("n_pings", T.LongType()),
    T.StructField("meters_traveled", T.DoubleType()),
    T.StructField("duration_sec", T.LongType()),
])


def _update_trip(key: tuple, pdfs: Iterator[pd.DataFrame],
                 state: GroupState) -> Iterator[pd.DataFrame]:
    (trip_id,) = key
    n, mn_m, mx_m, mn_t, mx_t = (
        state.get if state.exists else (0, None, None, None, None)
    )
    for pdf in pdfs:
        meters = pdf["METERS"].dropna()
        times = pdf["ACT_TIME"].dropna()
        n += len(pdf)
        if len(meters):
            lo, hi = float(meters.min()), float(meters.max())
            mn_m = lo if mn_m is None else min(mn_m, lo)
            mx_m = hi if mx_m is None else max(mx_m, hi)
        if len(times):
            lo_t, hi_t = int(times.min()), int(times.max())
            mn_t = lo_t if mn_t is None else min(mn_t, lo_t)
            mx_t = hi_t if mx_t is None else max(mx_t, hi_t)
    state.update((n, mn_m, mx_m, mn_t, mx_t))
    yield pd.DataFrame(
        {
            "trip_id": [trip_id],
            "n_pings": [n],
            "meters_traveled": [
                (mx_m - mn_m) if mn_m is not None else None
            ],
            "duration_sec": [
                (mx_t - mn_t) if mn_t is not None else None
            ],
        }
    )


def track_trip_progress(stream: DataFrame,
                        trip_col: str = "EVENT_NO_TRIP") -> DataFrame:
    """Cross-batch per-trip running summary.  Each micro-batch emits one
    updated row per touched trip; state persists in the checkpointed
    state store, so a trip whose pings span many micro-batches reports
    cumulative totals (asserted in tests/test_streaming.py)."""
    return stream.groupBy(trip_col).applyInPandasWithState(
        _update_trip,
        outputStructType=TRIP_PROGRESS,
        stateStructType=TRIP_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# The same tracker on Spark 4's transformWithState API.

from pyspark.sql.streaming.stateful_processor import (  # noqa: E402
    StatefulProcessor,
)


def ensure_protobuf_runtime(spark=None) -> str:
    """Make ``google.protobuf`` importable for transformWithState's
    state-server protocol, on the driver AND in Spark's Python workers.

    Preference order: the real protobuf distribution if installed;
    otherwise the repo's pure-Python shim
    (``vendor/protoshim/google/protobuf`` — a from-the-public-spec
    proto3 wire implementation, cross-validated against protobuf-java
    on Spark's JVM classpath by tests/test_protoshim.py).  The shim is
    path-inserted for this process and shipped to workers via
    ``addPyFile`` (a zip, so executor Python processes resolve
    ``google.protobuf`` with no filesystem coupling to the driver).

    Returns "protobuf" or "shim" so callers/tests can see which runtime
    is live.
    """
    import importlib
    import os
    import sys
    import zipfile

    shim = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "vendor", "protoshim",
    )
    try:
        import google.protobuf as _gp
        import google.protobuf.descriptor  # noqa: F401
        # CAREFUL: importable != real distribution.  If an earlier
        # caller (e.g. tests/test_protoshim's no-spark fixture) already
        # path-inserted the shim, the import succeeds but the Spark-side
        # worker wiring below is still required — returning "protobuf"
        # here left the TWS driver worker unable to import
        # google.protobuf (crashed with STREAMING_PYTHON_RUNNER_
        # INITIALIZATION_FAILURE when test files shared one session).
        gp_dir = os.path.abspath(next(iter(_gp.__path__)))
        if not gp_dir.startswith(os.path.abspath(shim)):
            return "protobuf"
    except ImportError:
        if shim not in sys.path:
            sys.path.insert(0, shim)
        importlib.invalidate_caches()
        import google.protobuf.descriptor  # noqa: F401  (the shim now)

    if spark is not None:
        sc = spark.sparkContext
        # The TWS *driver-side* pre-init worker
        # (transform_with_state_driver_worker.py) is spawned by the JVM
        # WITHOUT addPyFile includes — its sys.path comes from the
        # worker env's PYTHONPATH, which PythonWorkerFactory merges
        # from the PythonFunction's envVars (== sc.environment).  Set
        # it before the UDF is wrapped so that process can import the
        # shim too.
        existing = sc.environment.get("PYTHONPATH", "")
        if shim not in existing.split(os.pathsep):
            sc.environment["PYTHONPATH"] = (
                shim + (os.pathsep + existing if existing else "")
            )
        if not getattr(sc, "_protoshim_shipped", False):
            # ``_temp_dir`` (private to PySpark) is this context's own
            # dir under spark.local.dir, deleted at JVM shutdown.  The
            # zip must outlive this call: executors fetch it lazily.
            zpath = os.path.join(sc._temp_dir, "protoshim-google.zip")
            with zipfile.ZipFile(zpath, "w") as zf:
                for root, _dirs, files in os.walk(os.path.join(shim,
                                                               "google")):
                    for f in sorted(files):
                        if f.endswith(".py"):
                            full = os.path.join(root, f)
                            zf.write(full, os.path.relpath(full, shim))
            sc.addPyFile(zpath)
            sc._protoshim_shipped = True
    return "shim"


class TripProgressProcessor(StatefulProcessor):
    """``StatefulProcessor`` twin of ``track_trip_progress``: ValueState
    holds the same four-scalar trip summary, but the new API adds
    first-class state TTL/timers and composite state types (list/map) —
    the successor to applyInPandasWithState for long-lived pipelines.
    Kept semantically identical so both operators are covered by the
    same cumulative-across-batches assertions."""

    def init(self, handle) -> None:  # StatefulProcessorHandle
        self._state = handle.getValueState("trip", TRIP_STATE)

    def handleInputRows(self, key, rows, timer_values):
        (trip_id,) = key
        n, mn_m, mx_m, mn_t, mx_t = (
            tuple(self._state.get()) if self._state.exists()
            else (0, None, None, None, None)
        )
        for pdf in rows:
            meters = pdf["METERS"].dropna()
            times = pdf["ACT_TIME"].dropna()
            n += len(pdf)
            if len(meters):
                lo, hi = float(meters.min()), float(meters.max())
                mn_m = lo if mn_m is None else min(mn_m, lo)
                mx_m = hi if mx_m is None else max(mx_m, hi)
            if len(times):
                lo_t, hi_t = int(times.min()), int(times.max())
                mn_t = lo_t if mn_t is None else min(mn_t, lo_t)
                mx_t = hi_t if mx_t is None else max(mx_t, hi_t)
        self._state.update((n, mn_m, mx_m, mn_t, mx_t))
        yield pd.DataFrame({
            "trip_id": [trip_id],
            "n_pings": [n],
            "meters_traveled": [(mx_m - mn_m) if mn_m is not None else None],
            "duration_sec": [(mx_t - mn_t) if mn_t is not None else None],
        })

    def close(self) -> None:
        pass


def track_trip_progress_tws(stream: DataFrame,
                            trip_col: str = "EVENT_NO_TRIP") -> DataFrame:
    """transformWithStateInPandas version of the tracker.  Requires the
    RocksDB state store provider (the TWS backend) — callers/tests set
    spark.sql.streaming.stateStore.providerClass accordingly — and a
    ``google.protobuf`` runtime for the state-server protocol
    (StateMessage_pb2 wire messages between the Python worker and the
    JVM state server).  ``ensure_protobuf_runtime`` provides one: the
    installed protobuf distribution when present, else the repo's
    pure-Python proto3 shim (vendor/protoshim), written from the public
    wire-format spec and cross-validated bytes-for-bytes against
    protobuf-java on Spark's classpath (tests/test_protoshim.py), then
    shipped to workers via addPyFile."""
    ensure_protobuf_runtime(stream.sparkSession)
    return stream.groupBy(trip_col).transformWithStateInPandas(
        statefulProcessor=TripProgressProcessor(),
        outputStructType=TRIP_PROGRESS,
        outputMode="Update",
        timeMode="None",
    )


#: Emitted by the idle-expiry counter: running count + whether this
#: micro-batch RESUMED live (unexpired) state from an earlier batch.
SESSION_COUNT = T.StructType([
    T.StructField("trip_id", T.LongType()),
    T.StructField("n_pings", T.LongType()),
    T.StructField("resumed", T.BooleanType()),
])


class IdleExpiryCounterProcessor(StatefulProcessor):
    """Per-trip ping counter whose state carries a processing-time TTL:
    a trip idle longer than ``ttl_ms`` restarts from zero instead of
    resuming — the bounded-state discipline for unbounded key spaces
    (abandoned trips must not pin state-store memory forever; at 100 TB
    of stream history the state store holds only trips seen within the
    TTL window).  Exercises the getValueState(ttlDurationMs=...) leg of
    the state protocol end-to-end — the shim-vivify path
    (vendor/protoshim) that is wire-pinned in tests/test_protoshim.py is
    here proven to actually expire state through a real query."""

    def __init__(self, ttl_ms: int):
        self._ttl_ms = ttl_ms

    def init(self, handle) -> None:
        self._cnt = handle.getValueState(
            "cnt", "n bigint", ttlDurationMs=self._ttl_ms
        )

    def handleInputRows(self, key, rows, timer_values):
        (trip_id,) = key
        resumed = self._cnt.exists()
        n = int(self._cnt.get()[0]) if resumed else 0
        for pdf in rows:
            n += len(pdf)
        self._cnt.update((n,))
        yield pd.DataFrame({
            "trip_id": [trip_id], "n_pings": [n], "resumed": [resumed],
        })

    def close(self) -> None:
        pass


def count_pings_ttl_tws(stream: DataFrame, ttl_ms: int,
                        trip_col: str = "EVENT_NO_TRIP") -> DataFrame:
    """transformWithStateInPandas with TTL'd ValueState (ProcessingTime
    time mode — TTL requires it).  Same protobuf-runtime bootstrap as
    track_trip_progress_tws."""
    ensure_protobuf_runtime(stream.sparkSession)
    return stream.groupBy(trip_col).transformWithStateInPandas(
        statefulProcessor=IdleExpiryCounterProcessor(ttl_ms),
        outputStructType=SESSION_COUNT,
        outputMode="Update",
        timeMode="ProcessingTime",
    )


#: Emitted ONLY when a session closes (idle gap exceeded) — the
#: emit-once-on-close shape built-in session_window aggregation cannot
#: express (it re-emits per update in update mode).
SESSION_CLOSED = T.StructType([
    T.StructField("trip_id", T.LongType()),
    T.StructField("n_pings", T.LongType()),
    T.StructField("closed_by", T.StringType()),  # 'timer' | 'gap_on_input'
])

#: per-key session state: ping count + last-seen processing time (ms).
_SESS_STATE = "n bigint, last_seen bigint"


class SessionCloseProcessor(StatefulProcessor):
    """Timer-driven sessionization: one output row per CLOSED session.

    Two close paths, so semantics do not depend on the engine's
    input-vs-timer ordering inside a micro-batch:

    - ``handleInputRows``: if the stored session is already stale
      (now - last_seen >= gap), the old session closes inline
      (``closed_by='gap_on_input'``) and a fresh one starts with this
      batch's pings.  A new timer is registered at now+gap; the old
      one is deleted so it cannot double-close.
    - ``handleExpiredTimer``: pure-idle close (``closed_by='timer'``)
      — fires only when no newer traffic re-registered the timer; a
      stale timer racing a just-refreshed session is detected by
      expiry < last_seen + gap and ignored.

    State is two scalars per live key and is CLEARED on close — at
    100 TB of stream history the store holds only currently-open
    sessions, the bounded-state contract timers exist to enforce."""

    def __init__(self, gap_ms: int):
        self._gap_ms = gap_ms

    def init(self, handle) -> None:
        self._handle = handle
        self._sess = handle.getValueState("sess", _SESS_STATE)

    def _close_row(self, trip_id, n, how):
        return pd.DataFrame({
            "trip_id": [trip_id], "n_pings": [n], "closed_by": [how],
        })

    def handleInputRows(self, key, rows, timer_values):
        (trip_id,) = key
        now = timer_values.getCurrentProcessingTimeInMs()
        n_new = sum(len(pdf) for pdf in rows)
        if self._sess.exists():
            n_old, last_seen = (int(v) for v in self._sess.get())
            if now - last_seen >= self._gap_ms:
                # stale session: close it inline, start fresh
                yield self._close_row(trip_id, n_old, "gap_on_input")
                n_old = 0
            n_total = n_old + n_new
        else:
            n_total = n_new
        for t in list(self._handle.listTimers()):  # snapshot before delete
            self._handle.deleteTimer(t)
        self._handle.registerTimer(now + self._gap_ms)
        self._sess.update((n_total, now))

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        # (pyspark invokes this hook with keyword arguments, so the
        # parameter names must match the API's camelCase exactly)
        (trip_id,) = key
        expiry = expiredTimerInfo.getExpiryTimeInMs()
        if not self._sess.exists():
            return
        n, last_seen = (int(v) for v in self._sess.get())
        if expiry < last_seen + self._gap_ms:
            return  # stale timer; a newer one owns this session
        self._sess.clear()
        yield self._close_row(trip_id, n, "timer")

    def close(self) -> None:
        pass


def sessionize_with_timers(stream: DataFrame, gap_ms: int,
                           trip_col: str = "EVENT_NO_TRIP") -> DataFrame:
    """transformWithStateInPandas sessionizer emitting one row per
    closed session via processing-time TIMERS — the
    registerTimer/handleExpiredTimer leg of the stateful API
    (streaming/windows.py's session_window aggregation is the
    declarative sibling; this shape is for close-side effects and
    emit-once contracts)."""
    ensure_protobuf_runtime(stream.sparkSession)
    return stream.groupBy(trip_col).transformWithStateInPandas(
        statefulProcessor=SessionCloseProcessor(gap_ms),
        outputStructType=SESSION_CLOSED,
        outputMode="Append",
        timeMode="ProcessingTime",
    )


#: Emitted by the event-time timeout detector.
TRIP_TIMEOUT = T.StructType([
    T.StructField("trip_id", T.LongType()),
    T.StructField("first_time", T.LongType()),   # ACT_TIME of first ping
    T.StructField("n_pings", T.LongType()),      # pings seen before verdict
    T.StructField("outcome", T.StringType()),    # 'completed' | 'timed_out'
])

_TIMEOUT_STATE = "first_ms bigint, first_act bigint, n bigint"


class TripTimeoutProcessor(StatefulProcessor):
    """EVENT-TIME timer CEP pattern: a trip whose first ping gets no
    follow-up within ``gap_ms`` of EVENT time is flagged ``timed_out``
    when the watermark passes first_ts+gap; a follow-up arriving first
    deletes the pending timer and emits ``completed``.  Unlike the
    processing-time sessionizer this is fully deterministic under
    replay — timers fire on watermark advancement (data-driven), never
    wall clock, so the same files in the same batch order give the same
    verdicts.  The stuck-vehicle / abandoned-checkout monitor shape:
    per-key state is three scalars, cleared on verdict."""

    def __init__(self, gap_ms: int):
        self._gap_ms = gap_ms

    def init(self, handle) -> None:
        self._handle = handle
        self._st = handle.getValueState("first", _TIMEOUT_STATE)

    def handleInputRows(self, key, rows, timer_values):
        # Walk the batch's pings in EVENT-time order through the same
        # per-ping state machine a one-ping-per-batch replay would run:
        # verdicts then depend only on event times, never on how the
        # engine split files into micro-batches (a min-of-batch
        # shortcut here silently missed same-batch follow-ups and
        # emitted false timed_out verdicts).  Deadline comparison is
        # ts - first >= gap — the SAME boundary as the timer's
        # watermark >= expiry, so an exact-deadline follow-up gets the
        # identical verdict on both paths.
        (trip_id,) = key
        pings = []
        for pdf in rows:
            for t, a in zip(pdf["tstamp"], pdf["ACT_TIME"]):
                pings.append((int(t.value // 1_000_000), int(a)))
        pings.sort()
        if self._st.exists():
            first_ms, f_act, n = (int(v) for v in self._st.get())
            self._handle.deleteTimer(first_ms + self._gap_ms)
            open_ep = (first_ms, f_act, n)
        else:
            open_ep = None
        out = []
        for ts_ms, act in pings:
            if open_ep is None:
                open_ep = (ts_ms, act, 1)
                continue
            first_ms, f_act, n = open_ep
            if ts_ms - first_ms >= self._gap_ms:
                # the follow-up itself proves the deadline passed; the
                # late ping opens a fresh episode
                out.append((trip_id, f_act, n, "timed_out"))
                open_ep = (ts_ms, act, 1)
            else:
                out.append((trip_id, f_act, n + 1, "completed"))
                open_ep = None
        if open_ep is not None:
            self._st.update(open_ep)
            self._handle.registerTimer(open_ep[0] + self._gap_ms)
        else:
            self._st.clear()
        if out:
            yield pd.DataFrame(
                {
                    "trip_id": [o[0] for o in out],
                    "first_time": [o[1] for o in out],
                    "n_pings": [o[2] for o in out],
                    "outcome": [o[3] for o in out],
                }
            )

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        (trip_id,) = key
        if not self._st.exists():
            return
        first_ms, f_act, n = (int(v) for v in self._st.get())
        if expiredTimerInfo.getExpiryTimeInMs() < first_ms + self._gap_ms:
            return  # stale timer from an earlier incarnation
        self._st.clear()
        yield pd.DataFrame({
            "trip_id": [trip_id], "first_time": [f_act],
            "n_pings": [n], "outcome": ["timed_out"],
        })

    def close(self) -> None:
        pass


def detect_trip_timeouts(stream: DataFrame, gap_ms: int,
                         watermark_delay: str = "10 seconds",
                         trip_col: str = "EVENT_NO_TRIP") -> DataFrame:
    """transformWithStateInPandas with EVENT-TIME timers over the
    breadcrumb stream: decodes ``tstamp`` (ingest.with_event_date),
    applies the watermark, and runs the timeout detector.  Timers fire
    when the WATERMARK (not the wall clock) passes their expiry, and
    the follow-up verdict compares event times directly — replays are
    deterministic end to end."""
    from busdata_pipeline_spark.streaming.ingest import with_event_date

    ensure_protobuf_runtime(stream.sparkSession)
    ev = with_event_date(stream).withWatermark("tstamp", watermark_delay)
    return ev.groupBy(trip_col).transformWithStateInPandas(
        statefulProcessor=TripTimeoutProcessor(gap_ms),
        outputStructType=TRIP_TIMEOUT,
        outputMode="Append",
        timeMode="EventTime",
    )


#: Emitted by the event-time sessionizer: one row per CLOSED session.
SESSION_EPISODE = T.StructType([
    T.StructField("trip_id", T.LongType()),
    T.StructField("first_time", T.LongType()),   # ACT_TIME of first ping
    T.StructField("last_time", T.LongType()),    # ACT_TIME of last ping
    T.StructField("n_pings", T.LongType()),
])

_SESSION_EP_STATE = (
    "first_ms bigint, first_act bigint, "
    "last_ms bigint, last_act bigint, n bigint"
)


class EventTimeSessionProcessor(StatefulProcessor):
    """EVENT-TIME-timer gap sessionization — the deterministic sibling
    of SessionCloseProcessor (which uses processing-time timers and so
    cannot be replay-hashed).  A session extends while consecutive
    pings arrive < ``gap_ms`` of EVENT time apart; it closes either
    inline (a follow-up ping itself proves the gap elapsed) or by an
    event-time timer at last_seen+gap once the WATERMARK passes it.

    Replay determinism argument (what makes this driver-hashable):
    the emitted row carries NO which-path label, because close-by-timer
    vs close-by-follow-up for the same session is a batch-split
    artifact — with event-time-ordered input slices, a timer that
    fires before the next same-key ping arrives implies that ping is
    >= gap+delay past the session end, so BOTH paths close the session
    at the same boundary with identical (first, last, n).  The emitted
    SET is therefore a pure function of event times: every session
    followed by a same-key ping >= gap later is emitted, and a key's
    final session is emitted iff final_watermark >= last_ms + gap.
    Late (within-watermark) arrivals from a LATER micro-batch respect
    batch session-window semantics: a late ping below the session's
    FIRST boundary extends it backwards (session start = MIN event
    time, so first_ms/first_act take the min), and a late ping a full
    gap BEFORE the session start forms its own earlier session —
    emitted immediately, since the open session's first ping already
    proves the gap elapsed.  Per-key state is five scalars cleared on
    close; at 100 TB the store holds only currently-open sessions
    (bounded by active keys, not history)."""

    def __init__(self, gap_ms: int):
        self._gap_ms = gap_ms

    def init(self, handle) -> None:
        self._handle = handle
        self._st = handle.getValueState("sess", _SESSION_EP_STATE)

    def handleInputRows(self, key, rows, timer_values):
        # Walk the batch's pings in EVENT-time order (same batch-split
        # independence argument as TripTimeoutProcessor: verdicts
        # depend only on event times, never on file slicing).
        (trip_id,) = key
        pings = []
        for pdf in rows:
            for t, a in zip(pdf["tstamp"], pdf["ACT_TIME"]):
                pings.append((int(t.value // 1_000_000), int(a)))
        pings.sort()
        # Fold the sorted batch into gap-separated RUNS first.  Runs
        # are intervals (first_ms, first_act, last_ms, last_act, n):
        # sorted input means a run only ever extends forward, a tie at
        # the end keeps the max act, and the run's first_act is the
        # min-act of its first tie group (sort order guarantees it).
        runs = []
        for ts_ms, act in pings:
            if not runs or ts_ms - runs[-1][2] >= self._gap_ms:
                runs.append([ts_ms, act, ts_ms, act, 1])
                continue
            r = runs[-1]
            if ts_ms > r[2]:
                r[2], r[3] = ts_ms, act
            elif ts_ms == r[2]:
                r[3] = max(r[3], act)
            r[4] += 1
        open_s = (
            tuple(int(v) for v in self._st.get())
            if self._st.exists() else None
        )
        out = []
        # Merge each run against the open session interval.  A late
        # (within-watermark) run can sit entirely BEFORE the open
        # session: if it is a full gap before the session start it is
        # its own session — emit it now (the open session's first ping
        # proves the gap) — otherwise it extends the session backwards
        # (batch session-window semantics: start = min event time).
        for r_fms, r_fact, r_lms, r_lact, r_n in runs:
            if open_s is None:
                open_s = (r_fms, r_fact, r_lms, r_lact, r_n)
                continue
            f_ms, f_act, last_ms, last_act, n = open_s
            if r_fms - last_ms >= self._gap_ms:
                # the follow-up run itself proves the gap elapsed; it
                # opens the next session (same >= boundary as the
                # timer's watermark >= expiry check)
                out.append((trip_id, f_act, last_act, n))
                open_s = (r_fms, r_fact, r_lms, r_lact, r_n)
            elif f_ms - r_lms >= self._gap_ms:
                out.append((trip_id, r_fact, r_lact, r_n))
            else:
                if r_fms < f_ms or (r_fms == f_ms and r_fact < f_act):
                    f_ms, f_act = r_fms, r_fact
                # never regress the session end backwards — a shorter
                # last_ms would re-arm the close timer earlier and
                # shorten the emitted session; a tie keeps the max act
                if r_lms > last_ms or (r_lms == last_ms
                                       and r_lact > last_act):
                    last_ms, last_act = r_lms, r_lact
                open_s = (f_ms, f_act, last_ms, last_act, n + r_n)
        if open_s is not None:
            # re-arm: exactly one live timer per key, at session end+gap
            for t in list(self._handle.listTimers()):  # snapshot first
                self._handle.deleteTimer(t)
            self._st.update(open_s)
            self._handle.registerTimer(open_s[2] + self._gap_ms)
        if out:
            yield pd.DataFrame({
                "trip_id": [o[0] for o in out],
                "first_time": [o[1] for o in out],
                "last_time": [o[2] for o in out],
                "n_pings": [o[3] for o in out],
            })

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        (trip_id,) = key
        if not self._st.exists():
            return
        _f_ms, f_act, last_ms, last_act, n = (
            int(v) for v in self._st.get()
        )
        if expiredTimerInfo.getExpiryTimeInMs() < last_ms + self._gap_ms:
            return  # stale timer from an earlier incarnation
        self._st.clear()
        yield pd.DataFrame({
            "trip_id": [trip_id], "first_time": [f_act],
            "last_time": [last_act], "n_pings": [n],
        })

    def close(self) -> None:
        pass


def sessionize_event_time(stream: DataFrame, gap_ms: int,
                          watermark_delay: str = "10 seconds",
                          trip_col: str = "EVENT_NO_TRIP") -> DataFrame:
    """transformWithStateInPandas gap sessionizer on EVENT-TIME timers:
    decodes ``tstamp`` (ingest.with_event_date), applies the watermark,
    and emits one row per closed session.  Fully deterministic under
    replay (timers fire on watermark advancement, never wall clock) —
    unlike sessionize_with_timers, whose processing-time TTL semantics
    are wall-clock-coupled by design."""
    from busdata_pipeline_spark.streaming.ingest import with_event_date

    ensure_protobuf_runtime(stream.sparkSession)
    ev = with_event_date(stream).withWatermark("tstamp", watermark_delay)
    return ev.groupBy(trip_col).transformWithStateInPandas(
        statefulProcessor=EventTimeSessionProcessor(gap_ms),
        outputStructType=SESSION_EPISODE,
        outputMode="Append",
        timeMode="EventTime",
    )
