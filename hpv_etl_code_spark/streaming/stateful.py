"""Custom stateful streaming operators: per-key folds over a stream via
``applyInPandasWithState``.

``session_window`` (streaming/windows.py) covers the built-in windowed
case; this module carries what the built-ins CANNOT express — arbitrary
per-key state (sessions, running statistics, sketches, per-shard
moments). State is one small tuple per active key, so memory is bounded
by active keys, not history — the property that lets a stream run
forever — and every operator reproduces a batch twin over the same
prefix (locked in tests/test_stateful_*.py).

One driver. Every operator except :func:`sessionize_stream` is a
NO-TIMEOUT fold wired by :func:`_fold_by_key`: ``ensure_event_time`` →
``groupBy(key)`` → ``applyInPandasWithState(..., NoTimeout)``. A
no-timeout fold takes no watermark: Spark drops late rows for this
operator only under ``EventTimeTimeout``, so a watermark would change
nothing — a row behind it is folded like any other
(tests/test_stateful_nulls.py pins this). The five row-at-a-time folds
(EWMA, CUSUM, Holt, burstiness, OHLC) share one skeleton,
:func:`_row_fold`, and differ only in an initial state, a per-row step
and an emit function.

:func:`sessionize_stream` is the one watermarked operator: its
EVENT-TIME timeout fires when the watermark passes ``last_ts + gap``,
closing sessions whose user went quiet — which a batch operator can
never do incrementally.

Ordering contract of the order-sensitive folds (sessions, z-score,
EWMA, CUSUM, Holt, burstiness, OHLC): events for a key must arrive
non-decreasing in time ACROSS micro-batches (within a batch they are
sorted here). The file source preserves file order; out-of-order
arrivals would need a buffer-in-state variant (same skeleton, state
holds a small heap). The A/B, CUPED and bottom-k folds are exact
order-free sums and samples, so any arrival order gives the same final
row.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .windows import ensure_event_time

# ------------------------------------------------------ shared machinery


def _fold_by_key(
    stream_df: DataFrame,
    key: str | Column,
    fold,
    out_schema: StructType,
    state_schema: StructType,
    mode: str = "update",
) -> DataFrame:
    """The one no-timeout stateful driver: ``fold(key, pdfs, state)``
    per group of ``key`` — a column name, or a derived Column grouped
    as ``__key``. No watermark: without an event-time timeout Spark
    drops no late row, so one would change nothing."""
    df = ensure_event_time(stream_df, "ts")
    if not isinstance(key, str):
        df, key = df.withColumn("__key", key), "__key"
    return df.groupBy(key).applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode=mode,
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _row_fold(
    out_schema: StructType,
    column: str,
    init: tuple,
    step: Callable[[tuple, object], tuple],
    emit: Callable[[object, tuple], tuple | None],
):
    """The row-at-a-time fold: resume from the key's state (or
    ``init``), sort each batch by ``(ts, event_id)`` — the batch twins'
    order — apply ``step(state, x)`` to each row's ``column`` value,
    save the state and emit ``emit(key, state)`` (``None``: no row)."""

    def fold(
        key: tuple, pdf_iter: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        st = tuple(state.get) if state.exists else init
        for pdf in pdf_iter:
            for x in pdf.sort_values(["ts", "event_id"])[column]:
                st = step(st, x)
        state.update(st)
        row = emit(key[0], st)
        yield pd.DataFrame([] if row is None else [row], columns=out_schema.names)

    return fold


def _round6_half_up(x: float | None) -> float | None:
    """Spark's round(double, 6): shortest-repr decimal, HALF_UP — NOT
    Python's banker's round (round(0.5) == 0 would diverge). NULL stays
    NULL."""
    if x is None:
        return None
    return float(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
        )
    )


def _float_or_none(val) -> float | None:
    """A SQL NULL arrives as NaN (float64 column) or None (object
    column); both become None."""
    return None if val is None or pd.isna(val) else float(val)


def _cents_or_none(val) -> int | None:
    """value → integer cents with the same HALF_UP semantics as the
    batch path's CAST(value AS DECIMAL(12,2)) * 100 (2-decimal inputs
    are exact; repr() gives the shortest-repr digits both casts see);
    a SQL NULL stays None."""
    x = _float_or_none(val)
    if x is None:
        return None
    return int(
        decimal.Decimal(repr(x)).quantize(
            decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP
        )
        * 100
    )


# ------------------------------------------------------ sessionization

SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

_EPOCH = dt.datetime(1970, 1, 1)


def _us(ts: dt.datetime) -> int:
    return int((ts - _EPOCH).total_seconds() * 1_000_000)


def _make_sessionizer(gap_seconds: int):
    gap_us = gap_seconds * 1_000_000

    def sessionize(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        closed: list[tuple] = []
        user_id = key[0]

        if state.hasTimedOut:
            start_us, last_us, n, sv = state.get
            closed.append((user_id, start_us, last_us, n, sv))
            state.remove()
        else:
            cur = list(state.get) if state.exists else None
            events = pd.concat(list(pdfs), ignore_index=True)
            if len(events):
                events = events.sort_values("ts")
                for ts, value in zip(events["ts"], events["value"]):
                    t = _us(ts.to_pydatetime().replace(tzinfo=None))
                    if cur is None:
                        cur = [t, t, 0, 0.0]
                    elif t - cur[1] > gap_us:
                        closed.append((user_id, cur[0], cur[1], cur[2], cur[3]))
                        cur = [t, t, 0, 0.0]
                    cur[1] = max(cur[1], t)
                    cur[2] += 1
                    cur[3] += float(value)
            if cur is not None:
                deadline_ms = (cur[1] + gap_us) // 1000
                if deadline_ms <= state.getCurrentWatermarkMs():
                    # watermark already passed this session's deadline
                    # (possible when this batch advanced it) — close now;
                    # a timeout in the past would be rejected
                    closed.append((user_id, cur[0], cur[1], cur[2], cur[3]))
                    if state.exists:
                        state.remove()
                else:
                    state.update(tuple(cur))
                    state.setTimeoutTimestamp(deadline_ms)

        if closed:
            yield pd.DataFrame(
                {
                    "user_id": [c[0] for c in closed],
                    "session_start": [_EPOCH + dt.timedelta(microseconds=c[1]) for c in closed],
                    "session_end": [_EPOCH + dt.timedelta(microseconds=c[2]) for c in closed],
                    "n_events": [c[3] for c in closed],
                    "sum_value": [c[4] for c in closed],
                }
            )

    return sessionize


_GAP_UNITS = {
    "second": 1,
    "seconds": 1,
    "minute": 60,
    "minutes": 60,
    "hour": 3600,
    "hours": 3600,
    "day": 86400,
    "days": 86400,
}


def _parse_gap(gap: str) -> int:
    """'30 minutes' → 1800 (same grammar subset as Spark intervals)."""
    parts = gap.strip().split()
    if len(parts) != 2 or parts[1].lower() not in _GAP_UNITS:
        raise ValueError(f"unparseable session gap {gap!r}; use e.g. '30 minutes'")
    return int(parts[0]) * _GAP_UNITS[parts[1].lower()]


def sessionize_stream(
    stream_df: DataFrame, gap: str = "4 hours", watermark: str = "1 hour"
) -> DataFrame:
    """Emit CLOSED sessions (user, start, end, n, sum) as they expire:
    per user the one open session ``(start, last_ts, n, sum)``; a row
    past ``gap`` closes it and opens the next, and the event-time
    timeout closes it once the ``watermark`` passes ``last_ts + gap``.

    Input must carry ``user_id``, ``ts`` (event time), ``value``.
    """
    return (
        ensure_event_time(stream_df, "ts")
        .withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_sessionizer(_parse_gap(gap)),
            outputStructType=SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


# ------------------------------------------------- rolling z-score

ZSCORE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("event_type", StringType()),
        StructField("z", DoubleType()),
    ]
)
_ZSTATE_SCHEMA = StructType([StructField("cents", ArrayType(LongType()))])


def _make_zscorer(window: int, min_n: int):
    def score(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # state = the user's trailing <=window values as exact integer
        # cents (value is 2dp) — bounded memory per key, and the decimal
        # sums of the batch twin reproduce exactly from integers
        buf: list[int] = list(state.get[0]) if state.exists else []
        out: list[tuple] = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(["ts", "event_id"])
            for eid, etype, val in zip(
                pdf["event_id"], pdf["event_type"], pdf["value"]
            ):
                val = float(val)
                # ADVICE r4: NULL/NaN value (pandas delivers NaN for a
                # SQL NULL) must not crash the Decimal quantize below.
                # Mirror the batch twin exactly: the ROWS frame spans
                # {window} PHYSICAL rows — a null event OCCUPIES a
                # frame slot (so it stays a None placeholder in the
                # ring buffer) but count(value)/sum(vdec) skip it; the
                # null event itself emits a null-z row when its
                # trailing frame qualifies (z over NULL is NULL, and
                # the n/var filters don't depend on value).
                is_null = math.isnan(val)
                vals = [c for c in buf if c is not None]
                n = len(vals)
                if n >= min_n:
                    # mirror the batch twin's IEEE chain exactly:
                    # s1/s2 are exact decimal sums presented as double
                    s1 = float(sum(vals)) / 100.0
                    s2 = float(sum(c * c for c in vals)) / 10000.0
                    nn = float(n)
                    mean = s1 / nn
                    var = (s2 - mean * mean * nn) / (nn - 1.0)
                    if var > 1e-9:
                        if is_null:
                            out.append((int(eid), etype, None))
                        else:
                            z = (val - mean) / math.sqrt(var)
                            out.append((int(eid), etype, _round6_half_up(z)))
                # the batch twin's CAST(value AS DECIMAL(12,2)), as cents
                buf.append(_cents_or_none(val))
                if len(buf) > window:
                    buf.pop(0)
        state.update((buf,))
        yield pd.DataFrame(out, columns=ZSCORE_SCHEMA.names)

    return score


def zscore_stream(
    stream_df: DataFrame, window: int = 12, min_n: int = 6
) -> DataFrame:
    """Streaming rolling z-score: each event scored against its user's
    trailing ``window`` observations (causal — never against itself or
    the future), exactly as plans/mining_queries.py::rolling_zscores
    computes in batch (equivalence locked in tests/test_stateful_zscore
    .py). State per user is one bounded integer array — memory scales
    with ACTIVE KEYS, not history, so the stream runs forever; the
    batch twin would have to re-window all history per run.

    Ordering contract: same as :func:`sessionize_stream` — per-key
    event time non-decreasing across micro-batches (sorted within)."""
    return _fold_by_key(
        stream_df, "user_id", _make_zscorer(window, min_n),
        ZSCORE_SCHEMA, _ZSTATE_SCHEMA, mode="append",
    )


# ------------------------------------------------------ streaming EWMA

EWMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("ewma_value", DoubleType()),
        StructField("last_value", DoubleType()),
    ]
)
_EWMA_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("ewma", DoubleType()),
        StructField("last", DoubleType()),
    ]
)


def _make_ewma(alpha: float):
    b = 1.0 - alpha

    def step(st: tuple, val) -> tuple:
        # state = (n, ewma, last): O(1) per key — the stream NEVER holds
        # history, which is the whole point vs the batch fold. The
        # simple-fold op chain verbatim — bit-identical to
        # ewma_simple_fold, whose NULL value poisons the fold from there on
        n, acc, _ = st
        x = _float_or_none(val)
        if n == 0:
            acc = x
        elif x is None or acc is None:
            acc = None
        else:
            acc = x * alpha + acc * b
        return n + 1, acc, x

    return _row_fold(
        EWMA_SCHEMA, "value", (0, 0.0, 0.0), step,
        lambda k, st: (k, st[0], _round6_half_up(st[1]), _round6_half_up(st[2])),
    )


def ewma_stream(stream_df: DataFrame, alpha: float = 0.2) -> DataFrame:
    """Streaming EWMA — the sequential recurrence folded as O(1) per-key
    state (``applyInPandasWithState``), emitting each user's updated
    (n, ewma, last) per micro-batch in update mode. Completes the EWMA
    family: the batch entry (plans/mining_queries.py::ewma_user_values)
    is the SEGMENTED fold for bounded-memory reprocessing of unbounded
    history; the stream never needs segmentation because its state is
    already O(1) — and it applies the simple-fold op chain verbatim, so
    the final per-user row is BIT-IDENTICAL to ewma_simple_fold over
    the same prefix (locked in tests/test_stateful_ewma.py) and matches
    the segmented batch entry at the 6dp output contract.

    Ordering contract: per-key event time non-decreasing across
    micro-batches (sorted within), as :func:`sessionize_stream`."""
    return _fold_by_key(
        stream_df, "user_id", _make_ewma(alpha), EWMA_SCHEMA, _EWMA_STATE_SCHEMA
    )


# ------------------------------------------------------ streaming CUSUM

CUSUM_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("final_cusum", LongType()),
        StructField("max_cusum", LongType()),
        StructField("alarmed", BooleanType()),
    ]
)
_CUSUM_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s", LongType()),
        StructField("mx", LongType()),
    ]
)


def _make_cusum(k: int, h: int):
    def step(st: tuple, val) -> tuple:
        # state = (n, s, mx): O(1) per key, EXACT integers — the stream
        # is bit-identical to the segmented batch fold by construction
        # (integer (max,+) has no reassociation seam at all). A NULL
        # value is counted, as the batch's count(*), and leaves s as it
        # is, as the DuckDB oracle's SUM window does (cusum_segments
        # differs there: its null-skipping greatest() resets s to 0)
        n, s, mx = st
        cents = _cents_or_none(val)
        if cents is not None:
            s = max(0, s + cents - k)
            mx = max(mx, s)
        return n + 1, s, mx

    return _row_fold(
        CUSUM_SCHEMA, "value", (0, 0, 0), step,
        lambda key, st: (key, *st, st[2] >= h),
    )


def cusum_stream(stream_df: DataFrame, k: int, h_mult: int = 8) -> DataFrame:
    """Streaming CUSUM drift alarm — the batch entry
    (plans/inference_queries.py::cusum_user_cents) as O(1)-state
    ``applyInPandasWithState``. The reference level ``k`` is a FIXED
    monitoring parameter here (in batch it is derived as the global
    mean; a deployment pins it from the training window), and because
    every operation is integer max/plus, stream output equals the batch
    fold EXACTLY — same integers, same alarm bits — regardless of
    micro-batch cut points (tests/test_streaming_cusum.py).

    Ordering contract: per-key event time non-decreasing across
    micro-batches (sorted within), as :func:`ewma_stream`."""
    return _fold_by_key(
        stream_df, "user_id", _make_cusum(int(k), int(h_mult) * int(k)),
        CUSUM_SCHEMA, _CUSUM_STATE_SCHEMA,
    )


# ------------------------------------------------------ streaming Holt

HOLT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("level", DoubleType()),
        StructField("trend", DoubleType()),
        StructField("forecast_h3", DoubleType()),
    ]
)
_HOLT_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("x1", DoubleType()),
        StructField("l", DoubleType()),
        StructField("b", DoubleType()),
    ]
)


def _make_holt(alpha: float, beta: float):
    def step(st: tuple, val) -> tuple:
        # state = (n, x1, level, trend): O(1) per key — the stream
        # needs no segmentation because its state never holds history;
        # the op chain, NULLs included, is the whole-history simple fold
        # VERBATIM (timeseries_queries.holt_simple_fold): seeds level =
        # coalesce(x2, x1), trend = coalesce(x2 − x1, 0); a NULL later
        # on makes level and trend NULL from there on
        n, x1, lvl, trd = st
        x = _float_or_none(val)
        if n == 0:
            x1, lvl, trd = x, x, 0.0
        elif n == 1:
            lvl = x1 if x is None else x
            trd = 0.0 if x is None or x1 is None else x - x1
        elif x is None or lvl is None:
            lvl = trd = None
        else:
            lnew = alpha * x + (1.0 - alpha) * (lvl + trd)
            trd = beta * (lnew - lvl) + (1.0 - beta) * trd
            lvl = lnew
        return n + 1, x1, lvl, trd

    def emit(key, st: tuple) -> tuple:
        n, _, lvl, trd = st
        fc = None if lvl is None or trd is None else lvl + 3.0 * trd
        return key, n, _round6_half_up(lvl), _round6_half_up(trd), _round6_half_up(fc)

    return _row_fold(HOLT_SCHEMA, "value", (0, 0.0, 0.0, 0.0), step, emit)


def holt_stream(
    stream_df: DataFrame, alpha: float = 0.3, beta: float = 0.1
) -> DataFrame:
    """Streaming Holt level+trend smoothing — the batch entry
    (plans/timeseries_queries.py::holt_linear_trend) as O(1)-state
    ``applyInPandasWithState``. The batch side needs the segmented
    affine-map scan to bound per-task memory on unbounded history; the
    stream's state is already two doubles, and it applies the simple
    whole-history op chain verbatim, so the final per-user row is
    BIT-IDENTICAL to holt_simple_fold over the same prefix (locked in
    tests/test_stateful_holt.py, NULL values in
    tests/test_stateful_nulls.py) and matches the segmented batch entry
    at the 6dp output contract.

    Ordering contract: per-key event time non-decreasing across
    micro-batches (sorted within), as :func:`ewma_stream`."""
    return _fold_by_key(
        stream_df, "user_id", _make_holt(alpha, beta), HOLT_SCHEMA, _HOLT_STATE_SCHEMA
    )


# ------------------------------------------------ streaming burstiness

BURSTINESS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_gaps", LongType()),
        StructField("mean_gap_s", DoubleType()),
        StructField("sd_gap_s", DoubleType()),
        StructField("burstiness", DoubleType()),
    ]
)
_BURSTINESS_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("s", LongType()),
        StructField("q", LongType()),
        StructField("last_at", LongType()),
    ]
)


def _burstiness_step(st: tuple, ts) -> tuple:
    # state = (n_gaps, Σgap, Σgap², last_at): O(1) exact integers per
    # key — the stream never holds the gap history the batch window
    # lags over. Σgap² rides a 64-bit long: gaps of a year (~3·10⁷ s)
    # square to ~10¹⁵, so ~10⁴ such gaps fit — beyond that the batch
    # twin's DECIMAL(38,0) path is the reprocessing route.
    n, s, q, last_at = st
    at = ts.value // 1_000_000_000  # unix seconds, floor — unix_timestamp(ts)
    if last_at is not None:
        gap = at - last_at
        n, s, q = n + 1, s + gap, q + gap * gap
    return n, s, q, at


def _burstiness_emit(key, st: tuple) -> tuple | None:
    n, s, q, _ = st
    if n < 2:
        return None
    # the batch entry's IEEE chain verbatim: μ = s/n,
    # σ = √(double(n·q − s²))/n, B = (σ−μ)/(σ+μ), HALF_UP 6dp
    nn = float(n)
    mu = float(s) / nn
    sigma = math.sqrt(float(n * q - s * s)) / nn
    return (
        key,
        n,
        _round6_half_up(mu),
        _round6_half_up(sigma),
        _round6_half_up((sigma - mu) / (sigma + mu)),
    )


def burstiness_stream(stream_df: DataFrame) -> DataFrame:
    """Streaming inter-arrival burstiness — the batch entry
    (plans/robust_queries.py::burstiness_user_interarrival) as
    O(1)-state ``applyInPandasWithState``: per user only
    (n, Σgap, Σgap², last_at) exact integers, updated per event,
    emitting the user's refreshed (μ, σ, B) per micro-batch in update
    mode. The batch side lags over the full history per run; the
    stream's state is four longs, so the final per-user row is
    BIT-IDENTICAL to the batch aggregate over the same prefix (locked
    in tests/test_stateful_burstiness.py).

    Ordering contract: per-key event time non-decreasing across
    micro-batches (sorted within), as :func:`ewma_stream`."""
    fold = _row_fold(
        BURSTINESS_SCHEMA, "ts", (0, 0, 0, None), _burstiness_step, _burstiness_emit
    )
    return _fold_by_key(
        stream_df, "user_id", fold, BURSTINESS_SCHEMA, _BURSTINESS_STATE_SCHEMA
    )


# ------------------------------------------------- streaming daily OHLC

OHLC_SCHEMA = StructType(
    [
        StructField("day", DateType()),
        StructField("n_events", LongType()),
        StructField("open_cents", LongType()),
        StructField("high_cents", LongType()),
        StructField("low_cents", LongType()),
        StructField("close_cents", LongType()),
    ]
)
_OHLC_STATE_SCHEMA = StructType(
    [
        StructField("n", LongType()),
        StructField("o", LongType()),
        StructField("h", LongType()),
        StructField("l", LongType()),
        StructField("c", LongType()),
    ]
)


def _ohlc_step(st: tuple, val) -> tuple:
    # state = (n, open, high, low, close): O(1) exact integers per
    # DAY — open is fixed by the first event ever seen for the day,
    # close tracks the latest; the batch twin's within-day rank
    # (grouped_row_index) is reproduced by the ordering contract.
    # A NULL value mirrors the batch twin's Spark semantics exactly
    # (tests/test_stateful_ohlc.py): COUNT(*) counts the null row;
    # min_by/max_by(cents, rn) return the cents AT the boundary row
    # even when NULL; max/min skip nulls.
    n, o, h, l, _ = st
    cents = _cents_or_none(val)
    if n == 0:
        o = cents
    if cents is not None:
        h = cents if h is None else max(h, cents)
        l = cents if l is None else min(l, cents)
    return n + 1, o, h, l, cents


def ohlc_stream(stream_df: DataFrame) -> DataFrame:
    """Streaming daily OHLC bars — the batch entry
    (plans/timeseries_queries.py::ohlc_daily_bars) as O(1)-state
    ``applyInPandasWithState`` keyed by day: five integers of state,
    emitting the day's refreshed bar per micro-batch in update mode.
    The batch side ranks within the day (grouped_row_index) per run;
    the stream maintains open/high/low/close incrementally, so the
    final per-day row is BIT-IDENTICAL to the batch aggregate over the
    same prefix (locked in tests/test_stateful_ohlc.py).

    Ordering contract: per-key (per-DAY) event time non-decreasing
    across micro-batches (sorted within), as :func:`ewma_stream` — the
    natural arrival order of a time-partitioned ingest."""
    fold = _row_fold(
        OHLC_SCHEMA, "value", (0, None, None, None, None), _ohlc_step,
        lambda key, st: (key, *st),
    )
    return _fold_by_key(
        stream_df, F.to_date("ts"), fold, OHLC_SCHEMA, _OHLC_STATE_SCHEMA
    )


# ------------------------------------------- streaming A/B sufficient stats

AB_STATS_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_a", LongType()),
        StructField("n_b", LongType()),
        StructField("mean_a", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("t_stat", DoubleType()),
        StructField("welch_df", DoubleType()),
    ]
)
# per event_type: (rows, non-null values, Σcents, Σcents²) × two arms —
# exact integers, so the stream is micro-batch-cut-independent by
# construction (integer addition is associative; the ONLY floats are in
# the emit-side Welch readout, computed from the same exact sums the
# batch twin's decimal aggregates hold)
_AB_STATE_SCHEMA = StructType(
    [StructField(f, LongType()) for f in
     ("n0", "nv0", "sx0", "sxx0", "n1", "nv1", "sx1", "sxx1")]
)


def _arm_of(user_id) -> int:
    """The batch twin's portable md5 arm split, verbatim:
    pmod(conv(substr(md5(CAST(user_id AS STRING)), 1, 15), 16, 10), 2)."""
    import hashlib

    h = hashlib.md5(str(int(user_id)).encode()).hexdigest()[:15]
    return int(h, 16) % 2


def _welch_readout(etype, st):
    """(event_type, n_a, n_b, mean_a, mean_b, t_stat, welch_df) from the
    integer state — the EXACT double chain of
    plans/olap_queries.py::ab_welch_ttest: decimal sums → double once,
    then the identical IEEE op order, NULL propagation (an absent arm,
    a ≤1-row arm, zero pooled variance) and 6dp HALF_UP rounding."""
    n0, nv0, sx0c, sxx0c, n1, nv1, sx1c, sxx1c = st

    def dd(c: int, scale: int) -> float:
        # sum(DECIMAL) cast DOUBLE == correctly-rounded double of the
        # exact rational cents/scale
        return float(decimal.Decimal(c) / scale)

    sx0 = dd(sx0c, 100) if nv0 > 0 else None
    sxx0 = dd(sxx0c, 10000) if nv0 > 0 else None
    sx1 = dd(sx1c, 100) if nv1 > 0 else None
    sxx1 = dd(sxx1c, 10000) if nv1 > 0 else None
    m0 = sx0 / n0 if (sx0 is not None and n0 > 0) else None
    m1 = sx1 / n1 if (sx1 is not None and n1 > 0) else None
    v0 = (
        (sxx0 - sx0 * sx0 / n0) / (n0 - 1)
        if (n0 > 1 and sxx0 is not None)
        else None
    )
    v1 = (
        (sxx1 - sx1 * sx1 / n1) / (n1 - 1)
        if (n1 > 1 and sxx1 is not None)
        else None
    )
    se2 = (v0 / n0 + v1 / n1) if (v0 is not None and v1 is not None) else None
    t = (
        (m1 - m0) / math.sqrt(se2)
        if (se2 is not None and se2 > 0 and m0 is not None and m1 is not None)
        else None
    )
    dof = None
    if v0 is not None and v1 is not None and se2 is not None:
        a = v0 / n0
        b = v1 / n1
        den = a * a / (n0 - 1) + b * b / (n1 - 1)
        if den > 0:
            dof = se2 * se2 / den

    return (
        etype,
        n0 if n0 > 0 else None,
        n1 if n1 > 0 else None,
        *(_round6_half_up(x) for x in (m0, m1, t, dof)),
    )


def _make_ab_stats():
    def fold(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        st = list(state.get) if state.exists else [0] * 8
        for pdf in pdf_iter:
            for uid, val in zip(pdf["user_id"], pdf["value"]):
                if uid is None or (isinstance(uid, float) and math.isnan(uid)):
                    # batch: md5(NULL) → NULL arm → never picked
                    continue
                base = 4 * _arm_of(uid)
                st[base] += 1  # COUNT(*) within (type, arm): nulls too
                cents = _cents_or_none(val)
                if cents is not None:
                    st[base + 1] += 1
                    st[base + 2] += cents
                    st[base + 3] += cents * cents
        state.update(tuple(st))
        yield pd.DataFrame(
            [_welch_readout(key[0], st)], columns=AB_STATS_SCHEMA.names
        )

    return fold


def ab_stats_stream(stream_df: DataFrame) -> DataFrame:
    """Streaming Welch A/B readout — the batch entry
    (plans/olap_queries.py::ab_welch_ttest) as O(1)-state
    ``applyInPandasWithState`` keyed by event_type: eight exact
    integers of state per experiment cell (n, non-null n, Σcents,
    Σcents² for each arm), the full Welch t/df row re-emitted per
    micro-batch in update mode (VERDICT r5 #5 — the always-on
    experimentation dashboard shape).

    The FINAL per-type row is BIT-IDENTICAL to the batch entry over the
    same prefix (tests/test_stateful_ab.py): sufficient statistics are
    exact integer sums (order- and micro-batch-cut-independent, unlike
    the EWMA/Holt folds — this operator needs NO ordering contract),
    and the emit-side double chain replicates the batch expression
    order exactly. CUPED and power readouts reduce to the same (n, Σx,
    Σx²) state — this operator is their carrier too.

    State fits comfortably at any scale: 8 longs per (event_type) key.
    Σcents² caps the safe value range near |value| ≤ ~3·10⁴ on 10⁹-row
    arms (9.2·10¹⁸ / 10⁹ rows); wider regimes move the two sum fields
    to split hi/lo words — the state schema seam is the only change.
    """
    return _fold_by_key(
        stream_df, "event_type", _make_ab_stats(), AB_STATS_SCHEMA, _AB_STATE_SCHEMA
    )


# ------------------------------------------- streaming CUPED moments

CUPED_SHARD_SCHEMA = StructType(
    [
        StructField("shard", LongType()),
        StructField("n_users", LongType()),
        StructField("sx", LongType()),
        StructField("sy", LongType()),
        StructField("sxy", LongType()),
        StructField("sxx", LongType()),
        StructField("syy", LongType()),
    ]
)
_CUPED_STATE_SCHEMA = StructType(
    [
        StructField("users", ArrayType(LongType())),
        StructField("pre", ArrayType(LongType())),
        StructField("post", ArrayType(LongType())),
    ]
)


def _make_cuped(d0: dt.date, d1: dt.date):
    span = (d1 - d0).days

    def fold(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        # state = this shard's users' running (pre, post) cents totals —
        # O(users/shards) per shard, the same asymptotic footprint as
        # any per-user stateful operator, with shard-level parallelism
        if state.exists:
            users, pre, post = (list(c) for c in state.get)
            idx = {u: i for i, u in enumerate(users)}
        else:
            users, pre, post, idx = [], [], [], {}
        for pdf in pdf_iter:
            for uid, ts, val in zip(pdf["user_id"], pdf["ts"], pdf["value"]):
                if uid is None or (isinstance(uid, float) and math.isnan(uid)):
                    continue  # batch: NULL user forms its own group; the
                    # synthetic corpus has none — documented divergence
                cents = _cents_or_none(val)
                if cents is None:
                    continue  # NULL cents: sum skips
                day = ts.date() if hasattr(ts, "date") else ts
                period = 1 if (day - d0).days * 2 >= span else 0
                u = int(uid)
                i = idx.get(u)
                if i is None:
                    idx[u] = i = len(users)
                    users.append(u)
                    pre.append(0)
                    post.append(0)
                if period:
                    post[i] += cents
                else:
                    pre[i] += cents
        state.update((users, pre, post))
        # exact integer raw moments over this shard's users — the
        # ÷n-free centered forms recover from (n, Sx, Sy, Σxy, Σx², Σy²)
        # via cov·n² = n·Σxy·n − n·Sx·Sy (integer identity)
        yield pd.DataFrame(
            [
                (
                    key[0],
                    len(users),
                    sum(pre),
                    sum(post),
                    sum(x * y for x, y in zip(pre, post)),
                    sum(x * x for x in pre),
                    sum(y * y for y in post),
                )
            ],
            columns=CUPED_SHARD_SCHEMA.names,
        )

    return fold


def cuped_stream(
    stream_df: DataFrame,
    d0: dt.date,
    d1: dt.date,
    n_shards: int = 32,
) -> DataFrame:
    """Streaming CUPED sufficient statistics — the batch entry
    (plans/inference_queries.py::cuped_variance_reduction) carried as
    per-SHARD exact integer moments over per-user (pre, post) cents
    totals, via ``applyInPandasWithState`` keyed by ``user_id %
    n_shards``. Each micro-batch re-emits every touched shard's
    (n_users, Σpre, Σpost, Σpre·post, Σpre², Σpost²); the final θ /
    corr / variance-reduction row is ONE ≤n_shards-row reduce at read
    time using the integer identities cov·n² = n·Σxy − Sx·Sy (scaled by
    n) — bit-identical to the batch entry's decimal chain because both
    sides aggregate EXACT integers (tests/test_stateful_cuped.py; the
    ``cuped_stream`` catalog entry hash-certifies the whole streaming
    execution against the batch oracle).

    The period split (d0, d1) is a FIXED monitoring parameter (the
    batch entry derives it from the data's date bounds; a deployment
    pins it from the experiment definition) — same convention as
    ``cusum_stream``'s reference level. Σ moments are LongType — safe
    to ~10⁶-cent users on 10⁵-user shards; wider regimes split hi/lo
    words, the same seam as ``ab_stats_stream``.
    """
    return _fold_by_key(
        stream_df,
        F.pmod(F.col("user_id"), F.lit(n_shards)).cast("long"),
        _make_cuped(d0, d1),
        CUPED_SHARD_SCHEMA,
        _CUPED_STATE_SCHEMA,
    )


# ------------------------------------- streaming bottom-k quantile sample

BOTTOMK_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("n_seen", LongType()),  # total events folded — the
        # strictly-increasing "latest row" key (n_sample saturates at k,
        # so it cannot order the sink's update rows)
        StructField("n_sample", LongType()),
        StructField("sample_median", DoubleType()),
    ]
)
_BOTTOMK_STATE_SCHEMA = StructType(
    [
        StructField("n_seen", LongType()),
        StructField("hs", ArrayType(LongType())),
        StructField("ids", ArrayType(LongType())),
        StructField("vals", ArrayType(DoubleType())),  # None for NULL value
    ]
)


def _make_bottomk(k: int):
    def fold(
        key: tuple,
        pdf_iter: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        import hashlib

        # state = the k records with the SMALLEST (h, event_id) — the
        # bottom-k trick: a mergeable, arrival-order-free, RNG-free
        # uniform sample (same algebra as the KMV sketch), so the final
        # set is bit-identical to the batch window whatever the
        # micro-batch cuts were
        if state.exists:
            n_seen, hs0, ids0, vals0 = state.get
            rows = list(zip(hs0, ids0, vals0))
        else:
            n_seen, rows = 0, []
        for pdf in pdf_iter:
            for eid, val in zip(pdf["event_id"], pdf["value"]):
                e = int(eid)
                h = int(
                    hashlib.md5(str(e).encode()).hexdigest()[:15], 16
                )
                rows.append((h, e, _float_or_none(val)))
                n_seen += 1
        rows.sort(key=lambda r: (r[0], r[1]))
        rows = rows[:k]
        cols = tuple(list(c) for c in zip(*rows)) if rows else ([], [], [])
        state.update((n_seen,) + cols)
        # RAW doubles, exactly the batch median's input: Spark/DuckDB
        # median of an even count is (a + b) / 2 on the stored doubles
        vals = sorted(v for _, _, v in rows if v is not None)
        med = None
        if vals:
            m = len(vals)
            mid = (
                vals[m // 2]
                if m % 2
                else (vals[m // 2 - 1] + vals[m // 2]) / 2.0
            )
            med = _round6_half_up(mid)
        yield pd.DataFrame(
            [(key[0], n_seen, len(rows), med)],
            columns=BOTTOMK_SCHEMA.names,
        )

    return fold


def bottomk_stream(stream_df: DataFrame, k: int = 32) -> DataFrame:
    """Streaming bottom-k quantile sample — the batch entry
    (plans/battery_queries.py::sampled_quantile_portable) sample stage
    as ``applyInPandasWithState`` keyed by event_type: state is the k
    records with the smallest portable 60-bit md5(event_id) hash (ties
    → event_id), re-emitting the refreshed sample median per
    micro-batch. Bottom-k is MERGEABLE and arrival-order-free, so the
    final sample — and its median — is bit-identical to the batch
    window whatever the micro-batch boundaries were
    (tests/test_stateful_bottomk.py; the ``bottomk_quantile_stream``
    catalog entry hash-certifies the execution against the batch
    oracle). Median arithmetic mirrors both engines exactly: exact
    integer cents, (a+b)/2 for even counts, 6dp HALF-UP."""
    return _fold_by_key(
        stream_df, "event_type", _make_bottomk(int(k)), BOTTOMK_SCHEMA,
        _BOTTOMK_STATE_SCHEMA,
    )
