"""Custom stateful streaming operators (SURVEY.md §2.4 beyond-reference;
pipeline north-star N1 applied to streams).

The reference's only stateful streaming is the hand-rolled tail pointer
(TailF.java:110-149) and a mutable subscriber registry
(RealTimeCdrWiretap.java:74-86) — both JVM-lifetime state that dies on
restart. Here state lives in Spark's keyed state store, partitioned by the
grouping key and snapshotted to the checkpoint: restart-safe, and sized
per-key (not per-executor), so a 1000-executor cluster shards it
horizontally for free.

Two operators, both `applyInPandasWithState` (Arrow-batched — the
per-group Python function sees pandas frames, never row-at-a-time):

- `dedup_first_seen` — streaming exact dedup: emit the first record per
  fingerprint ever seen across the whole stream; later duplicates are
  dropped, across micro-batches and restarts. The streaming twin of
  `operators/dedup.dedup_exact_groups`, and what a 100 TB training-data
  ingest actually runs (dedup-on-arrival instead of dedup-after-landing).
- `running_counts` — per-key running record counter emitted on every
  update: the reference's periodic throughput printouts
  (IngestTest.java:90-94, TailF.java:136-140) as a queryable stream.

Scale notes: state per key is one long (count) — bounded; the shuffle
each micro-batch carries only the new records hash-partitioned by key.
At 100 TB of *stream history* the state size is O(distinct keys), which is
why the key should be a fingerprint (16 B md5), never the payload.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_DEDUP_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("value", StringType()),
    ]
)
# state = number of records ever seen for this key
_COUNT_STATE = StructType([StructField("n_seen", LongType())])

_COUNTS_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("n_total", LongType()),
    ]
)


def _dedup_fn(
    key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    seen = state.get[0] if state.exists else 0
    first: pd.DataFrame | None = None
    n = 0
    for pdf in pdf_iter:
        if first is None and len(pdf) > 0:
            first = pdf.iloc[[0]][["key", "value"]]
        n += len(pdf)
    state.update((seen + n,))
    if seen == 0 and first is not None:
        yield first


def dedup_first_seen(stream: DataFrame, key_col: str, value_col: str) -> DataFrame:
    """Emit exactly one record per distinct ``key_col`` for the lifetime of
    the stream (first occurrence wins; which record is "first" inside a
    single micro-batch is arrival-order per partition, as in the
    reference's tail). Duplicate arrivals only bump the keyed counter."""
    renamed = stream.selectExpr(f"{key_col} AS key", f"{value_col} AS value")
    return renamed.groupBy("key").applyInPandasWithState(
        _dedup_fn,
        outputStructType=_DEDUP_OUT,
        stateStructType=_COUNT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _counts_fn(
    key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    seen = state.get[0] if state.exists else 0
    n = sum(len(pdf) for pdf in pdf_iter)
    state.update((seen + n,))
    if n > 0:
        yield pd.DataFrame({"key": [key[0]], "n_total": [seen + n]})


def running_counts(stream: DataFrame, key_col: str) -> DataFrame:
    """Per-key running total, emitted once per micro-batch in which the key
    received records — the reference's cadence printouts as a stream."""
    renamed = stream.selectExpr(f"{key_col} AS key")
    return renamed.groupBy("key").applyInPandasWithState(
        _counts_fn,
        outputStructType=_COUNTS_OUT,
        stateStructType=_COUNT_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _epoch_int64(ts: pd.Series, divisor: int) -> list:
    """Arrow-delivered timestamp series → epoch int64 // divisor (ms for
    1_000_000, us for 1_000). Normalizes BOTH axes the raw int64 view got
    wrong (ADVICE r9 + r10 review): a non-ns unit (pandas 2/Arrow may hand
    back us- or ms-unit datetimes — astype ns fixes the scale) and a
    tz-aware dtype (astype ns on tz-aware raises TypeError under pandas 2
    — tz values are UTC instants, so dropping the tz preserves the epoch)."""
    if getattr(ts.dtype, "tz", None) is not None:
        ts = ts.dt.tz_localize(None)
    return (ts.astype("datetime64[ns]").astype("int64") // divisor).tolist()


def exactly_once_parquet_sink(out_dir: str):
    """Idempotent foreachBatch writer: each micro-batch lands in its own
    ``batch_id=<n>`` partition directory with overwrite mode, so a REPLAYED
    batch (failure between sink write and checkpoint commit — the
    at-least-once window every foreachBatch sink has) overwrites its own
    previous output instead of appending duplicates. Downstream reads
    ``spark.read.parquet(out_dir)`` and sees exactly-once data.

    This is the standard batch-id idempotence pattern for sinks without
    transactions; the reference's wiretap had no story here at all (a
    replayed tail re-sent everything, SURVEY.md ST1)."""

    def write(batch, batch_id: int) -> None:
        batch.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")

    return write


# ---------------------------------------------------------------------------
# bounded-memory heavy hitters (Misra-Gries) per key

_HH_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("item", StringType()),
        StructField("est_count", LongType()),
    ]
)
# state = parallel arrays of tracked items and their MG counters (typed
# arrays, not delimiter-joined strings — items may contain any byte)
_HH_STATE = StructType(
    [
        StructField("items", ArrayType(StringType())),
        StructField("counts", ArrayType(LongType())),
        StructField("n_seen", LongType()),
    ]
)


def _mg_merge(sketch: dict[str, int], batch_counts: dict[str, int], cap: int) -> dict[str, int]:
    """Misra-Gries update: admit new items while under capacity; when full,
    decrement all by the weight of the evicted remainder. Guarantees any
    item with true frequency > n/cap survives, and
    true_count - n/cap <= est_count <= true_count."""
    for item, c in sorted(batch_counts.items()):
        if item in sketch:
            sketch[item] += c
        elif len(sketch) < cap:
            sketch[item] = c
        else:
            dec = min(c, min(sketch.values()))
            sketch = {i: v - dec for i, v in sketch.items() if v - dec > 0}
            rem = c - dec
            if rem > 0:
                sketch[item] = rem
    return sketch


def _heavy_hitters_fn_factory(capacity: int):
    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items_s, counts_s, n_seen = state.get
            sketch = dict(zip(items_s or [], map(int, counts_s or [])))
        else:
            sketch, n_seen = {}, 0
        n_new = 0
        for pdf in pdf_iter:
            n_new += len(pdf)
            sketch = _mg_merge(sketch, pdf["item"].value_counts().to_dict(), capacity)
        items = sorted(sketch)
        state.update(
            (
                items,
                [int(sketch[i]) for i in items],
                n_seen + n_new,
            )
        )
        if n_new > 0 and sketch:
            ordered = sorted(sketch.items(), key=lambda kv: (-kv[1], kv[0]))
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(ordered),
                    "item": [i for i, _ in ordered],
                    "est_count": [c for _, c in ordered],
                }
            )

    return fn


def heavy_hitters(
    stream: DataFrame, key_col: str, item_col: str, capacity: int = 16
) -> DataFrame:
    """Per-key streaming heavy hitters with BOUNDED state: a Misra-Gries
    sketch of at most ``capacity`` counters per key, emitted (current
    estimates, most-frequent first) on every micro-batch that touches the
    key. Any item whose true frequency within a key exceeds
    n_seen/capacity is guaranteed tracked; estimates undercount by at
    most n_seen/capacity.

    This is the stateful-streaming answer to `skew_salted_heavy_hitters`
    (exact, batch): at 100 TB/day you cannot keep exact per-item counts —
    state here is O(capacity) per key regardless of stream length."""
    renamed = stream.selectExpr(f"{key_col} AS key", f"{item_col} AS item")
    return renamed.groupBy("key").applyInPandasWithState(
        _heavy_hitters_fn_factory(capacity),
        outputStructType=_HH_OUT,
        stateStructType=_HH_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# TTL-bounded streaming dedup (state eviction for infinite streams)


def _dedup_ttl_fn_factory(ttl_ms: int):
    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            # TTL elapsed with no arrivals: evict — the key's next arrival
            # is treated as first-seen again
            state.remove()
            return
        seen = state.get[0] if state.exists else 0
        first: pd.DataFrame | None = None
        n = 0
        for pdf in pdf_iter:
            if first is None and len(pdf) > 0:
                first = pdf.iloc[[0]][["key", "value"]]
            n += len(pdf)
        state.update((seen + n,))
        state.setTimeoutDuration(ttl_ms)  # arrivals refresh the TTL
        if seen == 0 and first is not None:
            yield first

    return fn


def dedup_first_seen_ttl(
    stream: DataFrame, key_col: str, value_col: str, ttl_ms: int
) -> DataFrame:
    """`dedup_first_seen` with BOUNDED state: a key's fingerprint is
    remembered only while it keeps arriving within ``ttl_ms``; idle keys
    are evicted (ProcessingTimeTimeout + state.remove), after which the
    content is treated as new again.

    This is the infinite-stream variant: `dedup_first_seen`'s state grows
    O(all distinct keys ever) — correct, but at 100 TB/year of stream
    history the store becomes the bottleneck. With a TTL matched to the
    realistic duplicate horizon (e.g. re-crawl interval), state is
    O(distinct keys per TTL window) regardless of stream lifetime —
    the same accuracy trade Misra-Gries makes for counts (`heavy_hitters`),
    applied to dedup.

    Reference provenance: the reference's tail pointer state
    (TailF.java:110-149) dies with the JVM — its "TTL" was process
    lifetime, involuntarily. Here eviction is explicit, checkpointed, and
    per-key.

    Under ``trigger(availableNow=True)`` the query never ends by itself:
    a processing-time timeout can fire with no new input, so Spark's
    stateful operator (``FlatMapGroupsWithStateExecBase.
    shouldRunAnotherBatch``, Spark 4.1) always asks for another batch and
    the stream keeps running empty batches; ``processAllAvailable()``
    never returns for it either. Stop it once a batch without input has
    run after the batches with input: availableNow fixes its input at
    start, so the input is done."""
    renamed = stream.selectExpr(f"{key_col} AS key", f"{value_col} AS value")
    return renamed.groupBy("key").applyInPandasWithState(
        _dedup_ttl_fn_factory(ttl_ms),
        outputStructType=_DEDUP_OUT,
        stateStructType=_COUNT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# ---------------------------------------------------------------------------
# event-time inactivity watchdog (timer semantics)

_WATCHDOG_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("last_seen_ms", LongType()),
        StructField("n_events", LongType()),
    ]
)
_WATCHDOG_STATE = StructType(
    [
        StructField("last_seen_ms", LongType()),
        StructField("n_events", LongType()),
    ]
)


def _watchdog_fn_factory(silence_ms: int):
    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            last_ms, n = state.get
            # one alert per silence; the key's next arrival re-arms fresh
            state.remove()
            yield pd.DataFrame(
                {"key": [key[0]], "last_seen_ms": [last_ms], "n_events": [n]}
            )
            return
        # Batch-independence: a silence can also be REVEALED by data —
        # a key re-appearing after a gap inside the same micro-batch (a
        # backfill replays months in one batch). Walking the batch's
        # timestamps in order and emitting an alert at every elapsed
        # gap makes the alert stream identical however the same events
        # are chopped into batches; the watermark timer only covers the
        # final, still-open silence.
        if state.exists:
            last_ms, n = state.get
        else:
            last_ms, n = None, 0
        batch_ms: list[int] = []
        for pdf in pdf_iter:
            if len(pdf):
                # datetime64[ns] -> epoch ms (tz-aware values are UTC ns)
                batch_ms.extend(
                    _epoch_int64(pdf["ts"], 1_000_000)
                )
        alerts_last, alerts_n = [], []
        for ms in sorted(batch_ms):
            if last_ms is not None and ms - last_ms > silence_ms:
                alerts_last.append(last_ms)
                alerts_n.append(n)
                n = 0
            last_ms = ms if last_ms is None else max(last_ms, ms)
            n += 1
        if last_ms is None:  # no prior state and an empty batch
            return
        state.update((last_ms, n))
        state.setTimeoutTimestamp(last_ms + silence_ms)
        if alerts_last:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(alerts_last),
                    "last_seen_ms": alerts_last,
                    "n_events": alerts_n,
                }
            )

    return fn


def inactivity_alerts(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    silence_seconds: int,
    watermark_delay: str = "0 seconds",
) -> DataFrame:
    """EVENT-TIME inactivity watchdog: emit one alert row per key whose
    event stream goes silent for more than ``silence_seconds`` of EVENT
    time — "sensor went dark", "user churned mid-session", the streaming
    twin of the batch `operators/gaps.event_gap_report`.

    This is the repo's one EVENT-TIME timer: unlike the TTL dedup's
    ProcessingTimeTimeout (wall clock of the cluster — flaky under
    contention, meaningless on replay), the timeout here is
    `setTimeoutTimestamp(last_seen + silence)` against the WATERMARK, so
    alerts are a pure function of the data's own timestamps: replays and
    late-running clusters produce the identical alert stream, and a
    backfill of last year's events raises last year's alerts — including
    silences wholly contained INSIDE one micro-batch, which the data
    path detects by walking the batch's timestamps (the timer only
    covers the final, still-open silence). The alert
    carries the key's last-seen event time and its event count; the
    alerted key's state is removed (one alert per silence — a
    re-appearing key re-arms from scratch).

    State per key is two longs — O(active keys), sharded by the state
    store exactly like the other stateful ops. The watermark delay
    bounds how out-of-order events may arrive and still count as
    activity.
    """
    renamed = stream.selectExpr(
        f"{key_col} AS key", f"{ts_col} AS ts"
    ).withWatermark("ts", watermark_delay)
    return renamed.groupBy("key").applyInPandasWithState(
        _watchdog_fn_factory(silence_seconds * 1000),
        outputStructType=_WATCHDOG_OUT,
        stateStructType=_WATCHDOG_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_FIRST_TOUCH_STATE = "first_ts_micros LONG, first_type STRING"
_FIRST_TOUCH_OUT = (
    "user_id LONG, purchase_ts TIMESTAMP, first_touch_type STRING, "
    "hours_to_convert DOUBLE"
)


def _first_touch_fn_factory(touch_types: tuple, conversion_type: str):
    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ft_micros, ft_type = state.get
        else:
            ft_micros, ft_type = None, None
        out_ts, out_type, out_hours = [], [], []
        frames = [pdf for pdf in pdf_iter if len(pdf) > 0]
        if frames:
            # ADVICE r8: mirror the batch operator's tie order exactly —
            # touches sort BEFORE conversions at equal ts (the asof ≤
            # convention, batch `_side` 0/1), event_id last. Without the
            # side key, a same-ts touch+purchase where the purchase holds
            # the lower event_id attributed to 'none' in streaming while
            # batch credited the touch.
            rows = pd.concat(frames)
            rows = rows.assign(
                _side=[0 if t in touch_types else 1 for t in rows["event_type"]]
            ).sort_values(["ts", "_side", "event_id"])
            for ts, et in zip(rows["ts"], rows["event_type"]):
                micros = ts.value // 1000  # pandas ns -> micros
                if et in touch_types:
                    if ft_micros is None:
                        ft_micros, ft_type = micros, et
                elif et == conversion_type:
                    out_ts.append(ts)
                    if ft_micros is None:
                        out_type.append("none")
                        out_hours.append(None)
                    else:
                        out_type.append(ft_type)
                        out_hours.append(
                            round((micros - ft_micros) / 3600000000.0, 4)
                        )
        if ft_micros is not None:
            state.update((int(ft_micros), ft_type))
        if out_ts:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out_ts),
                    "purchase_ts": out_ts,
                    "first_touch_type": out_type,
                    "hours_to_convert": out_hours,
                }
            )

    return fn


def streaming_first_touch(
    stream: DataFrame,
    touch_types: tuple = ("click", "view"),
    conversion_type: str = "purchase",
) -> DataFrame:
    """Streaming first-touch attribution: every conversion is emitted the
    micro-batch it arrives, credited to the user's EARLIEST touch seen so
    far — the stream twin of ``temporal.first_touch_attribution``, run
    on-arrival instead of in nightly batch (the state is exactly one
    (timestamp, type) pair per user, set once and never updated, so it is
    the cheapest possible keyed state).

    Ordering contract: rows are sorted by (ts, touch-before-conversion,
    event_id) WITHIN each micro-batch — the same tie order as the batch
    operator's ``_side`` column — so same-batch out-of-order arrivals
    and same-timestamp touch/conversion ties resolve correctly;
    ACROSS batches the stream is assumed event-time ordered per user (an
    earlier touch arriving after a later one was already recorded cannot
    retro-apply — first-WRITER-wins, the inherent semantics of any
    single-pass attribution). With in-order delivery the output equals
    the batch operator row for row (pinned by the equivalence test)."""
    projected = stream.select("user_id", "ts", "event_id", "event_type")
    return projected.groupBy("user_id").applyInPandasWithState(
        _first_touch_fn_factory(tuple(touch_types), conversion_type),
        outputStructType=_FIRST_TOUCH_OUT,
        stateStructType=_FIRST_TOUCH_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


_SESSIONIZE_STATE = "start_ms LONG, last_ms LONG, n_events LONG"
_SESSIONIZE_OUT = (
    "user_id LONG, session_start TIMESTAMP, session_end TIMESTAMP, "
    "n_events LONG"
)


def _sessionize_fn_factory(gap_s: int):
    def _out(uid, closed):
        return pd.DataFrame(
            {
                "user_id": [uid] * len(closed),
                "session_start": pd.to_datetime(
                    [c[0] for c in closed], unit="ms"
                ),
                "session_end": pd.to_datetime(
                    [c[1] for c in closed], unit="ms"
                ),
                "n_events": [c[2] for c in closed],
            }
        )

    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            start_ms, last_ms, n = state.get
            state.remove()
            yield _out(key[0], [(start_ms, last_ms, n)])
            return
        if state.exists:
            start_ms, last_ms, n = state.get
        else:
            start_ms, last_ms, n = None, None, 0
        batch_ms: list[int] = []
        for pdf in pdf_iter:
            if len(pdf):
                batch_ms.extend(
                    _epoch_int64(pdf["ts"], 1_000_000)
                )
        closed = []
        # batch-independence (the stateful-timer rule): a gap wholly
        # inside one micro-batch (backfill) never times out — the DATA
        # path walks the batch's own timestamps and closes every elapsed
        # session itself; the watermark timer covers only the final,
        # still-open session.
        for ms in sorted(batch_ms):
            if start_ms is None:
                start_ms, last_ms, n = ms, ms, 1
            elif (ms // 1000) - (last_ms // 1000) > gap_s:
                closed.append((start_ms, last_ms, n))
                start_ms, last_ms, n = ms, ms, 1
            else:
                last_ms, n = ms, n + 1
        if last_ms is None:  # no prior state and an empty batch
            return
        state.update((int(start_ms), int(last_ms), int(n)))
        # +1000 ms slack: the gap contract is WHOLE-SECOND truncation
        # (sec(ts) − sec(last) > gap_s, the batch sessionizer's
        # unix_timestamp semantics), so an event continuing the session
        # can carry a raw timestamp up to last_ms + gap_s·1000 + 999 —
        # the timer must not close the session before that instant.
        state.setTimeoutTimestamp(last_ms + gap_s * 1000 + 1000)
        if closed:
            yield _out(key[0], closed)

    return fn


def streaming_sessionize(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
    watermark_delay: str | None = None,
) -> DataFrame:
    """Streaming gaps-and-islands sessionizer: emits one summary row
    (user, session_start, session_end, n_events) per CLOSED session — a
    session closes when the user's event-time gap exceeds
    ``gap_minutes`` (whole-second truncation, the exact contract of the
    batch :func:`operators.temporal.sessionize`, so the emitted sessions
    equal the batch sessionizer's group boundaries row for row under
    in-order delivery — pinned by the equivalence test).

    Sessions close through BOTH paths of the stateful-timer rule: gaps
    revealed by data (a backfill batch spanning months closes every
    interior session as it walks the batch) and gaps revealed by the
    watermark (the final open session times out once other keys push
    event time past last_seen + gap). State per user is three longs —
    O(active users), the same class as the watchdog.

    ``watermark_delay`` defaults to the session gap itself (ADVICE r8):
    with a zero delay, ANY cross-key event-time skew — one user's
    continuation arriving after another key advanced the watermark —
    drops rows as late data and splits sessions, so the batch-equality
    claim would hold only on strictly ordered streams. A delay of one
    gap tolerates skew up to the gap at the cost of closed sessions
    emitting one gap later; pass an explicit delay to trade differently.

    100 TB posture: state is keyed and sharded by the state store; the
    per-batch walk is O(events in batch) after one in-batch sort; no
    per-session array is ever held (the summary carries counts and
    bounds only — the batch operator's whale-session cap concern does
    not arise)."""
    if watermark_delay is None:
        watermark_delay = f"{gap_minutes} minutes"
    renamed = stream.selectExpr(
        f"{user_col} AS user_id", f"{ts_col} AS ts"
    ).withWatermark("ts", watermark_delay)
    return renamed.groupBy("user_id").applyInPandasWithState(
        _sessionize_fn_factory(gap_minutes * 60),
        outputStructType=_SESSIONIZE_OUT,
        stateStructType=_SESSIONIZE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


_DHH_OUT = StructType(
    [
        StructField("key", StringType()),
        StructField("item", StringType()),
        StructField("decayed_weight", DoubleType()),
    ]
)
_DHH_STATE = StructType(
    [
        StructField("items", ArrayType(StringType())),
        StructField("weights", ArrayType(DoubleType())),
        StructField("anchor_ms", LongType()),
    ]
)


def _decayed_mg_merge(
    sketch: dict[str, float], batch_w: dict[str, float], cap: int
) -> dict[str, float]:
    """Misra-Gries admission on decayed weight MASS: admit under capacity,
    else subtract the evicted remainder from every counter — the classic
    guarantee transfers from counts to mass: any item whose decayed mass
    exceeds total_mass/cap survives, and each surviving estimate
    undercounts its true decayed mass by at most total_mass/cap (property
    test: test_streaming_sessionize)."""
    for item, w in sorted(batch_w.items()):
        if item in sketch:
            sketch[item] += w
        elif len(sketch) < cap:
            sketch[item] = w
        else:
            dec = min(w, min(sketch.values()))
            sketch = {i: v - dec for i, v in sketch.items() if v - dec > 1e-12}
            rem = w - dec
            if rem > 1e-12:
                sketch[item] = rem
    return sketch


def _decayed_hh_fn_factory(half_life_ms: int, capacity: int):
    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            items_s, weights_s, anchor_ms = state.get
            sketch = dict(zip(items_s or [], map(float, weights_s or [])))
        else:
            sketch, anchor_ms = {}, None
        rows: list[tuple[int, str]] = []
        for pdf in pdf_iter:
            if len(pdf):
                ms = _epoch_int64(pdf["ts"], 1_000_000)
                rows.extend(zip(ms, pdf["item"].tolist()))
        if not rows:
            return
        # the decay anchor is the max EVENT time seen so far — data-derived
        # and monotone, so replays and restarts decay identically (wall
        # clock would not); a late batch can never inflate old weights
        # (anchor only moves forward).
        t_batch = max(ms for ms, _ in rows)
        new_anchor = t_batch if anchor_ms is None else max(anchor_ms, t_batch)
        if anchor_ms is not None and new_anchor > anchor_ms:
            f = 0.5 ** ((new_anchor - anchor_ms) / half_life_ms)
            sketch = {i: w * f for i, w in sketch.items()}
        batch_w: dict[str, float] = {}
        for ms, item in sorted(rows):
            batch_w[item] = batch_w.get(item, 0.0) + 0.5 ** (
                (new_anchor - ms) / half_life_ms
            )
        sketch = _decayed_mg_merge(sketch, batch_w, capacity)
        items = sorted(sketch)
        state.update(
            (items, [float(sketch[i]) for i in items], int(new_anchor))
        )
        if sketch:
            ordered = sorted(sketch.items(), key=lambda kv: (-kv[1], kv[0]))
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(ordered),
                    "item": [i for i, _ in ordered],
                    "decayed_weight": [round(w, 6) for _, w in ordered],
                }
            )

    return fn


def decayed_heavy_hitters(
    stream: DataFrame,
    key_col: str,
    item_col: str,
    ts_col: str = "ts",
    half_life_seconds: int = 3600,
    capacity: int = 16,
) -> DataFrame:
    """Recency-weighted streaming heavy hitters: like :func:`heavy_hitters`
    but every tracked weight decays exponentially in EVENT time
    (half-life ``half_life_seconds``), so yesterday's viral item ranks
    below today's moderately-hot one — the trending-now readout, where
    the undecayed sketch answers all-time-top.

    Every event contributes 0.5^(Δt/half_life) relative to the key's
    decay anchor (the max event time seen — data-derived, monotone, so
    replay/restart decay identically; wall clock would not). State is
    O(capacity) doubles + one anchor long per key. Eviction is
    Misra-Gries on weight mass — items whose decayed mass stays above
    total_mass/capacity survive."""
    renamed = stream.selectExpr(
        f"{key_col} AS key", f"{item_col} AS item", f"{ts_col} AS ts"
    )
    return renamed.groupBy("key").applyInPandasWithState(
        _decayed_hh_fn_factory(half_life_seconds * 1000, capacity),
        outputStructType=_DHH_OUT,
        stateStructType=_DHH_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming EWMA anomaly detector per key

_EWMA_OUT = (
    "user_id LONG, ts TIMESTAMP, value DOUBLE, ema DOUBLE, z DOUBLE, "
    "n_prior LONG"
)
_EWMA_STATE = StructType(
    [
        StructField("n", LongType()),
        StructField("ema", DoubleType()),
        StructField("ewvar", DoubleType()),
    ]
)


def _ewma_anomaly_fn_factory(alpha: float, k: float, min_obs: int):
    one_minus = 1.0 - alpha

    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import math

        n, ema, ewvar = state.get if state.exists else (0, 0.0, 0.0)
        rows: list[tuple[int, int, float]] = []
        for pdf in pdf_iter:
            if len(pdf):
                # microseconds, not ms: Spark TimestampType is us-precision,
                # so this IS the batch twin's full-resolution ts order (an
                # ms truncation would reorder sub-ms event pairs vs the
                # batch fold — r9 review finding)
                us = _epoch_int64(pdf["ts"], 1_000)
                eids = pdf["event_id"].tolist()
                vals = pdf["value"].tolist()
                rows.extend(zip(us, eids, vals))
        out: list[tuple] = []
        # total in-batch order (ts, event_id) — the batch fold's order, so
        # the recurrence applies the identical dependent IEEE op sequence
        # regardless of how the rows were split across micro-batches
        for us, _eid, x in sorted(rows):
            if x is None or (isinstance(x, float) and math.isnan(x)):
                continue  # null values carry no signal and no update
            if n >= min_obs:
                dev = x - ema
                if ewvar > 0.0:
                    z = dev / math.sqrt(ewvar)
                    if abs(z) > k:
                        out.append((us, x, ema, z, n))
                elif dev != 0.0:
                    # zero variance so far: ANY deviation is anomalous;
                    # z has no finite value — emitted NULL (guard, not NaN)
                    out.append((us, x, ema, None, n))
            if n == 0:
                ema, ewvar = x, 0.0
            else:
                delta = x - ema
                ema = ema + alpha * delta
                ewvar = one_minus * (ewvar + alpha * delta * delta)
            n += 1
        state.update((int(n), float(ema), float(ewvar)))
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(out),
                    "ts": pd.to_datetime([o[0] for o in out], unit="us"),
                    "value": [o[1] for o in out],
                    "ema": [o[2] for o in out],
                    "z": [o[3] for o in out],
                    "n_prior": [o[4] for o in out],
                }
            )

    return fn


def streaming_ewma_anomaly(
    stream: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    alpha: float = 0.25,
    k: float = 3.0,
    min_obs: int = 5,
) -> DataFrame:
    """Per-key streaming anomaly detector over a numeric signal: each
    event is scored against the key's running EWMA and exponentially-
    weighted variance (z = (x − ema)/√ewvar, both BEFORE the event
    updates them — an event never vouches for itself), and rows with
    |z| > ``k`` after a ``min_obs`` burn-in are emitted as anomalies.
    The streaming twin of the batch EMA fold
    (:func:`operators.temporal.ema_event_values` — same α-recurrence,
    same (ts, event_id) total order), extended with the West-style
    EW variance update ewvar ← (1−α)·(ewvar + α·Δ²).

    Batch-independence: detection depends only on the per-key event
    SEQUENCE, so any split of an in-order stream into micro-batches
    yields the identical anomaly set (pinned by the equivalence test) —
    there are no timers and no watermark dependency; late data simply
    scores in arrival order (document upstream ordering expectations).
    NULL values carry no signal and no update. Zero-variance burn-in
    (constant signal) flags ANY deviation with a NULL z — the guard,
    never a NaN.

    100 TB posture: state per key is three scalars — O(active keys),
    sharded by the state store; each micro-batch does one in-batch sort
    of its own rows and a scalar fold, no per-key history is ever
    materialized."""
    renamed = stream.selectExpr(
        f"{user_col} AS user_id",
        f"{ts_col} AS ts",
        f"{id_col} AS event_id",
        f"CAST({value_col} AS DOUBLE) AS value",
    )
    return renamed.groupBy("user_id").applyInPandasWithState(
        _ewma_anomaly_fn_factory(alpha, k, min_obs),
        outputStructType=_EWMA_OUT,
        stateStructType=_EWMA_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming PSI drift detector per key

_PSI_OUT = "user_id LONG, n_ref LONG, n_batch LONG, psi DOUBLE, drifted BOOLEAN"
_PSI_STATE = StructType(
    [
        StructField("ref_counts", ArrayType(LongType())),
        StructField("n_ref", LongType()),
    ]
)


def _psi_drift_fn_factory(
    edges: tuple, baseline_n: int, threshold: float, min_batch_n: int
):
    n_bins = len(edges) + 1
    # bin i = count of edges <= x, i.e. searchsorted(edges, x, "right"):
    # identical to the scalar "first edge with x < e, else last bin" rule
    # (pinned by the batch-split equivalence test)
    edges_arr = np.asarray(edges, dtype="float64")

    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ref_counts, n_ref = state.get
            ref = np.asarray(ref_counts, dtype="int64")
        else:
            ref, n_ref = np.zeros(n_bins, dtype="int64"), 0
        # vectorized binning (VERDICT r9 #3): the whole batch goes through
        # searchsorted + bincount — no per-value Python loop. None/NaN
        # values carry no signal and are dropped before binning (NaN would
        # otherwise searchsorted into the last bin).
        parts = []
        for pdf in pdf_iter:
            v = pdf["value"].to_numpy(dtype="float64", na_value=np.nan)
            v = v[~np.isnan(v)]
            if len(v):
                parts.append(np.searchsorted(edges_arr, v, side="right"))
        batch_bins = (
            np.concatenate(parts) if parts else np.empty(0, dtype="int64")
        )
        # events fill the frozen reference FIRST (in arrival order),
        # then the remainder of the batch is the comparison window —
        # one event is never counted on both sides
        fill = min(len(batch_bins), baseline_n - n_ref)
        ref = ref + np.bincount(batch_bins[:fill], minlength=n_bins)
        n_ref += fill
        window = batch_bins[fill:]
        state.update(([int(c) for c in ref], int(n_ref)))
        if n_ref < baseline_n or len(window) < min_batch_n:
            return
        cur = np.bincount(window, minlength=n_bins)
        pr = np.maximum(ref / n_ref, 1e-6)
        pc = np.maximum(cur / len(window), 1e-6)
        psi = float(np.sum((pc - pr) * np.log(pc / pr)))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_ref": [n_ref],
                "n_batch": [len(window)],
                "psi": [round(psi, 6)],
                "drifted": [psi > threshold],
            }
        )

    return fn


def streaming_psi_drift(
    stream: DataFrame,
    bin_edges: tuple,
    user_col: str = "user_id",
    value_col: str = "value",
    baseline_n: int = 100,
    threshold: float = 0.25,
    min_batch_n: int = 20,
) -> DataFrame:
    """Per-key drift-on-arrival monitor: each key's FIRST ``baseline_n``
    values freeze a reference histogram over the caller-provided
    ``bin_edges`` (in production: the edges a certified batch profile —
    :func:`operators.profile.value_drift_psi`'s equi-width convention —
    published); every subsequent micro-batch with at least
    ``min_batch_n`` values is scored as PSI(batch ‖ reference) with the
    batch-PSI smoothing (empty-bin shares floored at 1e-6) and emitted
    with a ``drifted`` flag at the standard 0.25 investigate line. The
    streaming twin of the batch PSI operators — drift shows up within
    one micro-batch of arriving instead of at the next batch audit.

    The comparison window IS the micro-batch by design (each emission
    scores fresh data only — an event is never counted in both the
    reference and a window, and never scored twice); the reference fill
    is arrival-order deterministic. State per key is ``len(bin_edges)+1``
    int64 bin counts plus one counter — bounded, sharded by the state
    store, no timers.

    100 TB posture: identical to the other stateful ops here —
    per-batch work is one pass over the key's new rows; emitted rows are
    one per (key, batch)."""
    if not bin_edges or list(bin_edges) != sorted(bin_edges):
        raise ValueError("bin_edges must be a non-empty ascending sequence")
    renamed = stream.selectExpr(
        f"{user_col} AS user_id", f"CAST({value_col} AS DOUBLE) AS value"
    )
    return renamed.groupBy("user_id").applyInPandasWithState(
        _psi_drift_fn_factory(
            tuple(float(e) for e in bin_edges), baseline_n, threshold, min_batch_n
        ),
        outputStructType=_PSI_OUT,
        stateStructType=_PSI_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming categorical-mix PSI drift detector per key

_CATPSI_OUT = (
    "user_id LONG, n_ref LONG, n_batch LONG, n_cells LONG, "
    "psi DOUBLE, drifted BOOLEAN"
)
_CATPSI_STATE = StructType(
    [
        StructField("categories", ArrayType(StringType())),
        StructField("ref_counts", ArrayType(LongType())),
        StructField("n_ref", LongType()),
    ]
)


def _category_psi(
    ref: dict, n_ref: int, cur: dict, n_win: int
) -> tuple[float, int]:
    """PSI(window ‖ reference) over the UNION cell set with the house
    1e-6 share floor — the categorical-cell core shared by the stateful
    fn and the batch-equivalence tests (one definition, so the smoothing
    and cell-union conventions cannot drift between them)."""
    cells = sorted(set(ref) | set(cur))
    psi = 0.0
    for c in cells:
        pr = max(ref.get(c, 0) / n_ref, 1e-6)
        pc = max(cur.get(c, 0) / n_win, 1e-6)
        psi += (pc - pr) * np.log(pc / pr)
    return float(psi), len(cells)


def _cat_psi_fn_factory(baseline_n: int, threshold: float, min_batch_n: int):
    def fn(
        key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            cats, counts, n_ref = state.get
            ref = dict(zip(cats, (int(c) for c in counts)))
        else:
            ref, n_ref = {}, 0
        # vectorized: the batch collapses to per-category counts via
        # np.unique — the only Python loop is over the tiny CELL set,
        # never per event. NULL categories carry no signal (dropna).
        parts = []
        for pdf in pdf_iter:
            c = pdf["category"].dropna()
            if len(c):
                parts.append(c.to_numpy(dtype=object))
        arr = np.concatenate(parts) if parts else np.empty(0, dtype=object)
        # events fill the frozen reference FIRST (arrival order), then the
        # remainder of the batch is the comparison window — one event is
        # never counted on both sides (the streaming_psi_drift convention)
        fill = min(len(arr), baseline_n - n_ref)
        if fill:
            fc, fn_counts = np.unique(arr[:fill], return_counts=True)
            for c, n in zip(fc, fn_counts):
                ref[str(c)] = ref.get(str(c), 0) + int(n)
            n_ref += fill
        window = arr[fill:]
        ref_cats = sorted(ref)
        state.update(
            (ref_cats, [int(ref[c]) for c in ref_cats], int(n_ref))
        )
        if n_ref < baseline_n or len(window) < min_batch_n:
            return
        wc, wn = np.unique(window, return_counts=True)
        cur = {str(c): int(n) for c, n in zip(wc, wn)}
        psi, n_cells = _category_psi(ref, n_ref, cur, len(window))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_ref": [n_ref],
                "n_batch": [len(window)],
                "n_cells": [n_cells],
                "psi": [round(psi, 6)],
                "drifted": [psi > threshold],
            }
        )

    return fn


def streaming_category_mix_psi(
    stream: DataFrame,
    user_col: str = "user_id",
    category_col: str = "category",
    baseline_n: int = 100,
    threshold: float = 0.25,
    min_batch_n: int = 20,
) -> DataFrame:
    """Per-key CATEGORICAL-mix drift monitor — the categorical twin of
    :func:`streaming_psi_drift` and the streaming twin of
    :func:`operators.profile.priority_mix_drift_by_month`: each key's
    first ``baseline_n`` category labels freeze a reference mix; every
    subsequent micro-batch with at least ``min_batch_n`` labels is scored
    as PSI(batch ‖ reference) over the UNION of reference and batch
    cells, smoothed with the house 1e-6 share floor, and emitted with a
    ``drifted`` flag at the standard 0.25 investigate line. A category
    NEVER seen in the reference is exactly the signal PSI must see — the
    union cell set is the streaming form of the batch operator's
    zero-cell grid rule (a missing cell still contributes its term
    through the floored share, it never silently vanishes).

    Unlike the value detector there are no caller-provided bin edges:
    the cells ARE the labels, so the reference vocabulary is learned
    from the first ``baseline_n`` arrivals and frozen with the counts.

    The comparison window IS the micro-batch (each emission scores fresh
    data only; an event is never counted on both sides and never scored
    twice); the reference fill is arrival-order deterministic, so any
    in-order split of the stream into micro-batches freezes the
    identical reference (pinned by the batch-split invariance test).

    100 TB posture: state per key is the reference vocabulary + one
    int64 count per cell + one counter — O(|categories|), bounded by the
    label domain (priorities, languages, sources — small by nature),
    sharded by the state store, no timers; per-batch work is one
    np.unique pass over the key's new rows (the only Python loop runs
    over the tiny cell set)."""
    renamed = stream.selectExpr(
        f"{user_col} AS user_id",
        f"CAST({category_col} AS STRING) AS category",
    )
    return renamed.groupBy("user_id").applyInPandasWithState(
        _cat_psi_fn_factory(baseline_n, threshold, min_batch_n),
        outputStructType=_CATPSI_OUT,
        stateStructType=_CATPSI_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# streaming cohort-activity tracker per user

_COHORT_OUT = "user_id LONG, cohort_week LONG, week_offset LONG"
_COHORT_STATE = StructType(
    [
        StructField("cohort_week", LongType()),
        StructField("weeks_seen", ArrayType(LongType())),
    ]
)

_WEEK_MS = 7 * 86_400_000


def _cohort_fn(
    key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        cohort_wk, weeks_s = state.get
        seen = set(weeks_s or [])
    else:
        cohort_wk, seen = None, set()
    batch_weeks: set[int] = set()
    for pdf in pdf_iter:
        # NaT MUST drop before the epoch view: pandas converts NaT to
        # int64 min (week ~-15251), and here that garbage would persist
        # as the user's cohort FOREVER (keyed state, not a transient
        # emission — r10 review finding); dropna is the null filter
        ts = pdf["ts"].dropna()
        if len(ts):
            batch_weeks.update(
                ms // _WEEK_MS for ms in _epoch_int64(ts, 1_000_000)
            )
    new = sorted(batch_weeks - seen)
    if not new:
        return
    if cohort_wk is None:
        cohort_wk = new[0]
    seen.update(new)
    state.update((int(cohort_wk), sorted(seen)))
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(new),
            "cohort_week": [cohort_wk] * len(new),
            "week_offset": [w - cohort_wk for w in new],
        }
    )


def streaming_cohort_activity(
    stream: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Streaming twin of :func:`operators.temporal.weekly_retention_matrix`'s
    numerators: per user, emit exactly one (cohort_week, week_offset) row
    the FIRST time that user is active in a calendar week — downstream,
    `groupBy(cohort_week, week_offset).count()` IS the retention
    triangle's n_active, maintained on arrival instead of recomputed
    from history. Weeks are the same engine-free integers as the batch
    op (epoch-ms div week-ms ≡ days-since-1970 div 7 for positive
    epochs).

    Cohort = first week SEEN for the user (arrival order). For an
    in-event-time-order stream this equals the batch operator's
    min-week cohort exactly (the equivalence test feeds ordered
    batches); an out-of-order arrival EARLIER than the recorded cohort
    is counted as activity but cannot retroactively re-cohort rows
    already emitted (append semantics — bound lateness upstream with a
    watermark if re-cohorting matters).

    State per user: one long + the set of distinct active weeks —
    bounded by the stream's lifetime in weeks, not by event volume."""
    renamed = stream.selectExpr(f"{user_col} AS user_id", f"{ts_col} AS ts")
    return renamed.groupBy("user_id").applyInPandasWithState(
        _cohort_fn,
        outputStructType=_COHORT_OUT,
        stateStructType=_COHORT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# --------------------------------------------------------------------------
# Streaming growth accounting (VERDICT r11 #4): the keyed-state lifecycle
# twin of operators/temporal.user_lifecycle_weekly

_LIFECYCLE_OUT = "user_id LONG, wk LONG, status STRING"
# state = the user's activity frontier (max classified week)
_LIFECYCLE_STATE = StructType([StructField("last_wk", LongType())])


def _lifecycle_fn(
    key: tuple, pdf_iter: Iterable[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    last = state.get[0] if state.exists else None
    weeks: set[int] = set()
    for pdf in pdf_iter:
        # NaT drops BEFORE the epoch view (the cohort-state rule: int64
        # min would otherwise become the user's frontier forever)
        ts = pdf["ts"].dropna()
        if len(ts):
            weeks.update(ms // _WEEK_MS for ms in _epoch_int64(ts, 1_000_000))
    rows: list[tuple[int, str]] = []
    for w in sorted(weeks):
        if last is not None and w <= last:
            # same-week repeat, or an out-of-order arrival behind the
            # frontier: append semantics cannot retro-classify weeks
            # already accounted (the cohort-op convention — bound
            # lateness upstream with a watermark if it matters)
            continue
        if last is None:
            rows.append((w, "new"))
        elif w == last + 1:
            rows.append((w, "retained"))
        else:
            # the gap teaches us BOTH facts at once: the user churned
            # into their first silent week (the batch op's churn week,
            # last+1) and is resurrected in w
            rows.append((last + 1, "churned"))
            rows.append((w, "resurrected"))
        last = w
    if not rows:
        return
    state.update((int(last),))
    yield pd.DataFrame(
        {
            "user_id": [key[0]] * len(rows),
            "wk": [w for w, _ in rows],
            "status": [s for _, s in rows],
        }
    )


def streaming_user_lifecycle(
    stream: DataFrame, user_col: str = "user_id", ts_col: str = "ts"
) -> DataFrame:
    """Streaming growth-accounting lifecycle — the keyed-state twin of
    :func:`operators.temporal.user_lifecycle_weekly` (and the event-time
    elevation of the reference's only stateful pattern, the tail
    pointer, TailF.java:110-149): per user, every newly-seen active week
    is classified on arrival as ``new`` (no frontier yet), ``retained``
    (frontier is the immediately previous week) or ``resurrected``
    (frontier ends at least two weeks back), and a resurrection gap also
    emits the ``churned`` row for the user's first silent week
    (frontier+1) — the same churn-week convention as the batch matrix.
    Downstream, ``groupBy(wk, status).count()`` IS the growth-accounting
    matrix, maintained on arrival instead of recomputed from history.

    What streaming CANNOT know yet (stated, not hidden): a user's
    terminal churn — silent-so-far with no later activity — is only
    decidable at a horizon; the batch operator sees the corpus max week
    and counts those churns, so stream≡batch equivalence holds exactly
    on new/retained/resurrected, and on churned restricted to users who
    later resurrect (the equivalence test pins both, plus the batch
    identity on the streamed matrix).

    Weeks are the engine-free integers of the batch op (epoch-ms div
    week-ms ≡ days-since-1970 div 7 for positive epochs). State per
    user: ONE long (the activity frontier) — smaller than the cohort
    tracker's week set, because classification only ever looks back one
    state, never at history. At 100 TB of stream history the state is
    O(distinct users) longs, hash-sharded by user across executors."""
    renamed = stream.selectExpr(f"{user_col} AS user_id", f"{ts_col} AS ts")
    return renamed.groupBy("user_id").applyInPandasWithState(
        _lifecycle_fn,
        outputStructType=_LIFECYCLE_OUT,
        stateStructType=_LIFECYCLE_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
