"""Structured-Streaming event analytics: the streaming twins of
``analysis/events.py``'s batch operators.

- :func:`windowed_counts_stream` — ``readStream`` → ``withWatermark`` →
  tumbling-window aggregation in UPDATE mode. The watermark bounds state
  (windows older than watermark are finalized and evicted) and DROPS
  late rows that arrive after it passes — the two properties that make a
  windowed aggregation runnable forever over an unbounded stream. The
  aggregation is the batch
  :func:`~searchengine_spark.analysis.events.windowed_counts` itself.
- :func:`stream_sessionize` — gap-based per-user sessions as a CUSTOM
  stateful operator via ``applyInPandasWithState`` (Arrow-batched; no
  per-row Python). State per user is one open session (5 scalars), so
  memory is O(active users), not O(events) — the shape that survives an
  unbounded stream. Each micro-batch emits the running aggregate of every
  session it touched (update semantics): closed sessions emit their final
  row when the gap closes them, and the last emission per
  (user_id, session_id) always equals the batch
  :func:`~searchengine_spark.analysis.events.sessionize` row over the
  same prefix of events.

Correctness contract of :func:`stream_sessionize`: per-user event-time
order ACROSS micro-batches (within a batch the operator sorts) — the
shape a replayed log arrives in (Kafka partitions keyed by user, or
date-partitioned object storage). A genuinely out-of-order producer uses
:func:`sessionize_stream_ooo` instead: merge-capable interval state +
watermark-bounded disorder, final-only emission.

Both run with ``trigger(availableNow=True)`` for batch-incremental
catch-up (the tests) or the default micro-batch trigger for a live feed —
the same dataframes, untouched.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from searchengine_spark.analysis.events import windowed_counts

#: the driver `events` table schema (TESTDATA.md)
EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)

SESSION_OUT_SCHEMA = (
    "user_id long, session_id long, n_events long, start_us long, end_us long"
)
#: open-session state per user: (start, end, count); session_id == start
SESSION_STATE_SCHEMA = "start long, end long, n long"
#: merge-capable state for the out-of-order path: every still-open session
#: as parallel arrays (sorted by start)
SESSION_OOO_STATE_SCHEMA = (
    "starts array<long>, ends array<long>, ns array<long>"
)


def read_events_stream(
    spark: SparkSession, source_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over an events parquet directory. One file per
    trigger by default so multi-batch behavior (watermark advance, state
    carry-over) is exercised deterministically; a production feed raises
    it or swaps in a Kafka source — downstream plans are identical."""
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(source_dir)
    )


def windowed_counts_stream(
    events: DataFrame, window: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """The batch :func:`~searchengine_spark.analysis.events.windowed_counts`
    aggregation over a watermarked stream, so batch and stream results are
    comparable row-for-row. UPDATE output mode emits each (window, type)
    row whenever a batch changes it; rows later than the watermark are
    dropped by the state store before they reach the aggregate."""
    return windowed_counts(events.withWatermark("ts", watermark), window)


_SESSION_COLS = ["user_id", "session_id", "n_events", "start_us", "end_us"]


def _session_fn(gap_us: int, use_timeout: bool = False) -> Callable:
    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        user = key[0]
        if use_timeout and state.hasTimedOut:
            # the event-time watermark passed (last event + gap): the open
            # session can never be extended — emit its final row and EVICT
            # the state (unbounded streams must not hold idle users forever).
            # session_id == start_us, so a user returning AFTER eviction
            # opens a session with a strictly larger id (any post-eviction
            # event time exceeds the watermark, which already passed
            # end+gap) — ids never collide across eviction.
            start, end, n = state.get
            state.remove()
            yield pd.DataFrame(
                [(user, start, n, start, end)], columns=_SESSION_COLS
            )
            return
        if state.exists:
            start, end, n = state.get
        else:
            start, end, n = None, None, 0
        batch = pd.concat(list(pdfs), ignore_index=True)
        # in-batch ordering: event time, then event_id (the batch twin's
        # deterministic tiebreak)
        batch = batch.sort_values(["_us", "event_id"], kind="mergesort")
        rows = []
        for us in batch["_us"].to_numpy():
            us = int(us)
            if start is None:
                start = end = us
                n = 1
            elif us - end > gap_us:
                rows.append((user, start, n, start, end))  # final emission
                start = end = us
                n = 1
            else:
                end = us
                n += 1
        if n:
            rows.append((user, start, n, start, end))  # running aggregate
        state.update((int(start), int(end), int(n)))
        if use_timeout:
            # close the open session when the watermark passes its gap
            # horizon; +1 ms so an event AT the horizon still extends it
            state.setTimeoutTimestamp((int(end) + gap_us) // 1000 + 1)
        yield pd.DataFrame(rows, columns=_SESSION_COLS)

    return fn


def _session_ooo_fn(gap_us: int) -> Callable:
    """Out-of-order-tolerant sessionizer: state is the full set of OPEN
    sessions per user as gap-mergeable intervals; a session is emitted
    exactly once, when the event-time watermark passes end+gap (it can
    then never change: late rows below the watermark are dropped, and any
    future row's event time is ≥ the watermark > end+gap, i.e. out of
    reach). Until then an out-of-order event within the watermark delay
    can extend a session backwards, land inside it, or BRIDGE two open
    sessions — the interval sweep below handles all three."""

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        user = key[0]
        wm_us = state.getCurrentWatermarkMs() * 1000
        if state.exists:
            starts, ends, ns = state.get
            items = [
                (int(s), int(e), int(n)) for s, e, n in zip(starts, ends, ns)
            ]
        else:
            items = []
        if not state.hasTimedOut:
            batch = pd.concat(list(pdfs), ignore_index=True)
            # drop rows already below the watermark (Spark's pre-filter is
            # version/plan dependent for stateful UDFs; enforcing it here
            # makes the finalized-session invariant self-contained)
            for us in batch["_us"].to_numpy():
                us = int(us)
                if us >= wm_us:
                    items.append((us, us, 1))
        # gap-merge sweep over (open sessions ∪ new events), sorted by start
        items.sort()
        merged: list[list[int]] = []
        for s, e, n in items:
            if merged and s - merged[-1][1] <= gap_us:
                last = merged[-1]
                last[1] = max(last[1], e)
                last[2] += n
            else:
                merged.append([s, e, n])
        final = [it for it in merged if it[1] + gap_us < wm_us]
        open_ = [it for it in merged if it[1] + gap_us >= wm_us]
        if open_:
            state.update((
                [it[0] for it in open_],
                [it[1] for it in open_],
                [it[2] for it in open_],
            ))
            # wake when the earliest open session becomes finalizable
            state.setTimeoutTimestamp(
                (min(it[1] for it in open_) + gap_us) // 1000 + 1
            )
        elif state.exists:
            state.remove()
        if final:
            yield pd.DataFrame(
                [(user, s, n, s, e) for s, e, n in final],
                columns=_SESSION_COLS,
            )

    return fn


def sessionize_stream(
    events: DataFrame,
    gap_minutes: int = 30,
    idle_timeout_watermark: str | None = None,
) -> DataFrame:
    """Gap-based sessionization as a custom stateful streaming operator:
    ``applyInPandasWithState`` keyed by user_id, one open session of three
    scalars as state. Emits every session the batch touched with its
    running aggregate; the last emission per (user_id, session_id) is the
    session's final row. session_id is the session's start time in epoch
    µs (== start_us), matching the batch twin — ids are therefore stable
    across state EVICTION: a user returning after an idle timeout opens a
    strictly later id instead of re-running a counter over ids already
    emitted (which would silently overwrite earlier sessions in an
    update-mode sink keyed by (user_id, session_id)).

    ``idle_timeout_watermark`` (e.g. ``"1 hour"``) switches on event-time
    state EVICTION — the property an unbounded 100-TB stream requires:
    a watermark is attached to ``ts`` and each open session arms a timeout
    at (last event + gap), so when the watermark passes it the session
    emits its final row and its state is REMOVED — memory is then
    O(users active within the gap+watermark horizon), not O(all users
    ever seen). Default None keeps NoTimeout semantics (state pending
    until the user's next event; simplest for bounded catch-up runs —
    note the watermark also drops late events, so only feed it streams
    whose disorder is within the delay)."""
    gap_us = gap_minutes * 60 * 1_000_000
    src = events
    timeout = GroupStateTimeout.NoTimeout
    if idle_timeout_watermark is not None:
        src = events.withWatermark("ts", idle_timeout_watermark)
        timeout = GroupStateTimeout.EventTimeTimeout
    # ts stays in the projection: event-time timeout requires the
    # watermarked column to survive into the stateful operator's input
    base = src.select(
        "user_id", "event_id", "ts", F.unix_micros(F.col("ts")).alias("_us")
    )
    return base.groupby("user_id").applyInPandasWithState(
        _session_fn(gap_us, use_timeout=idle_timeout_watermark is not None),
        SESSION_OUT_SCHEMA,
        SESSION_STATE_SCHEMA,
        "update",
        timeout,
    )


def sessionize_stream_ooo(
    events: DataFrame,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
) -> DataFrame:
    """Out-of-order-tolerant gap sessionization (the piece
    :func:`sessionize_stream` documents as out of scope): per-user events
    may arrive in any order ACROSS micro-batches as long as their disorder
    is bounded by ``watermark``. State per user is the set of still-open
    sessions as gap-mergeable (start, end, n) intervals; an out-of-order
    event can extend one backwards or bridge two into one. A session is
    emitted EXACTLY ONCE — when the event-time watermark passes its
    end+gap, at which point no admissible future event can touch it (rows
    below the watermark are dropped and counted as late) — so the output
    is append-semantics final rows that match the batch
    :func:`~searchengine_spark.analysis.events.sessionize` over the same
    events. State size per user is O(watermark/gap + 1) open intervals;
    users with no open interval are fully evicted, so memory is
    O(active-horizon users) like the ordered path.

    Caveat shared with every watermarked operator: sessions whose end+gap
    the watermark has not yet passed remain pending in state (an unbounded
    stream eventually emits them via the event-time timeout; a bounded
    catch-up run ends with its tail sessions pending unless a final
    watermark-advancing event arrives)."""
    gap_us = gap_minutes * 60 * 1_000_000
    base = events.withWatermark("ts", watermark).select(
        "user_id", "event_id", "ts", F.unix_micros(F.col("ts")).alias("_us")
    )
    return base.groupby("user_id").applyInPandasWithState(
        _session_ooo_fn(gap_us),
        SESSION_OUT_SCHEMA,
        SESSION_OOO_STATE_SCHEMA,
        "update",
        GroupStateTimeout.EventTimeTimeout,
    )


def run_collecting(
    df: DataFrame, checkpoint: str, output_mode: str = "update"
) -> list[tuple[int, pd.DataFrame]]:
    """Run a streaming dataframe to completion with availableNow,
    collecting each micro-batch's emissions as (batch_id, pandas) — the
    test/verification harness. Production sinks swap in here unchanged."""
    batches: list[tuple[int, pd.DataFrame]] = []

    def sink(bdf: DataFrame, bid: int) -> None:
        pdf = bdf.toPandas()
        if len(pdf):
            batches.append((bid, pdf))

    q = (
        df.writeStream.foreachBatch(sink)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return batches
