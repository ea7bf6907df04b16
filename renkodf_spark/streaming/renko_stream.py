"""Structured Streaming Renko operator: the incremental twin of the
batch `renko()` (reference `RenkoWS.add_prices`, renkodf.py:513-690),
hosted in `applyInPandasWithState` — the one streaming host.

Per-key value state is exactly the reference's scalar state
(renkodf.py:504-511): (last_close, last_direction, wick_min, wick_max,
volume) plus our explicit `brick_seq` counter. Completed bricks are
emitted in append mode. The forming bar (reference `renko_animate`)
comes either from `renko_stream_animate` (update mode, one forming row
per key per micro-batch) or client-side from (last bricks + state) via
`forming_bar_from_state` below. Both operators share one warm-start
parse (`_warm_states`), one event sort and resume/seed step
(`_scan_batch`) and one brick-row build (`_batch_frame`).

Semantics notes, matching the reference and `renkodf_spark.live`:
- cold start seeds one synthetic brick at the grid anchor with
  direction=1 (so a first move *down* needs a 2-brick traversal —
  renkodf.py:504-508 behavior, documented in live.py).
- warm start: pass `initial_state` (the `to_rws()` export, collected to
  pandas) — each key resumes from its last exported brick.
- arrival order: events are replayed in event-time order *within* a
  micro-batch (sorted here); across micro-batches the source order
  governs, as in the reference (it assumes in-order ticks). A watermark
  on the source upstream of this operator is the drop-late policy.

Scale: state is O(1) per symbol; per-micro-batch work is O(events in
batch); parallelism across symbols — identical posture to the batch
operator.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from renkodf_spark.kernel import grid_anchor, new_output, output_arrays, scan_ticks, seed_row
from renkodf_spark.schema import MODE_SOURCES, MODES, STREAM_SCHEMA

_STATE_SCHEMA = (
    "last_close double, last_dir long, wick_min double, wick_max double, "
    "volume long, seq long"
)

_OUT_COLUMNS = [f.name for f in STREAM_SCHEMA.fields]
_VALUE_COLUMNS = [c for c in _OUT_COLUMNS if c not in ("symbol", "brick_seq", "event_time")]


def renko_stream(
    ticks: DataFrame,
    brick_size: float,
    *,
    symbol_col: str = "symbol",
    time_col: str = "event_time",
    price_col: str = "close",
    initial_state: pd.DataFrame | None = None,
    emit_seed: bool = True,
) -> DataFrame:
    """Build the streaming wide-brick DataFrame from a streaming tick
    DataFrame. Output mode: append (completed bricks only).

    ``initial_state``: optional warm-start table in ``to_rws()`` shape
    (columns: symbol, brick_seq, close, direction, volume, brick_size,
    timestamp, ...). Must be small (one tail row per symbol is enough);
    it is captured in the task closure like a broadcast dim.
    """
    if brick_size is None or brick_size <= 0:
        raise ValueError("brick_size cannot be 'None' or '<= 0'")
    warm = _warm_states(initial_state)

    def process(key, pdfs, state):
        stored = state.get if state.exists else warm.get(key[0])
        batch = _scan_batch(pdfs, stored, brick_size, time_col, price_col, emit_seed)
        if batch is None:
            return
        _times, _prices, kstate, seq, head, out = batch
        n = len(out["event_time"])
        state.update((*kstate[:4], int(kstate[4]), int(seq + n)))
        if n or head is not None:
            yield _batch_frame(key[0], seq, head, out)

    slim = _clean_input(ticks, symbol_col, time_col, price_col)
    return slim.groupBy(symbol_col).applyInPandasWithState(
        process,
        outputStructType=STREAM_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


def _warm_states(initial_state: pd.DataFrame | None, open_src: str | None = None) -> dict:
    """``to_rws()`` export -> {symbol: stored-state tuple}: each key
    resumes from its last exported brick (plus that brick's ``open_src``
    value when given, for the forming bar)."""
    warm: dict[str, tuple] = {}
    if initial_state is None:
        return warm
    tail = initial_state.sort_values("brick_seq").groupby("symbol", sort=False).tail(1)
    for row in tail.to_dict("records"):
        close = float(row["close"])
        seq = int(row["brick_seq"]) + 1
        st = (close, int(row["direction"]), close, close, int(row["volume"]), seq)
        warm[str(row["symbol"])] = st + (float(row[open_src]),) if open_src else st
    return warm


def _scan_batch(
    pdfs, stored: tuple | None, brick: float, time_col: str, price_col: str, emit_seed: bool
):
    """One key's micro-batch through the kernel: events replayed in
    event-time order (stable), resumed from ``stored`` (the key's state
    or its warm start), else a cold start. Returns ``(times, prices,
    kstate, seq, head, out)`` — ``seq`` numbers the first brick in
    ``out``, ``head`` is the cold-start seed row (or None) — or None for
    an empty batch. Stored fields after ``seq`` are the caller's."""
    chunks = [pdf[[time_col, price_col]] for pdf in pdfs]
    events = pd.concat(chunks, ignore_index=True) if len(chunks) > 1 else chunks[0]
    events = events.sort_values(time_col, kind="mergesort")
    times = events[time_col].to_numpy()
    prices = events[price_col].to_numpy().tolist()
    if not prices:
        return None
    head = None
    if stored is not None:
        kstate, seq, start = [*stored[:5], 0], stored[5], 0
    else:
        anchor = grid_anchor(prices[0], brick)
        seq = 0
        if emit_seed:
            head = seed_row(times[0], anchor)
            seq = 1
        # reference cold start: state mirrors the seed row (dir=1)
        kstate, start = [anchor, 1, anchor, anchor, 1, 0], 1
    out = new_output()
    scan_ticks(times, prices, start, brick, kstate, out)
    return times, prices, kstate, seq, head, out


def _batch_frame(symbol: str, seq: int, head: dict | None, out: dict) -> pd.DataFrame:
    """One micro-batch's rows for ``symbol``: the kernel's bricks in
    ``out``, numbered from ``seq``, led by the cold-start `seed_row`
    ``head`` (numbered ``seq - 1``) when there is one.  The seed is
    prepended to the column arrays, in their dtypes, rather than
    concatenated as a frame: a batch that closes no brick would make
    that an empty-frame concat."""
    arrs = output_arrays(out)
    event_time = out["event_time"]
    if head is not None:
        seq -= 1
        event_time = [head["event_time"], *event_time]
        arrs = {
            c: np.concatenate((np.array([head[c]], dtype=arrs[c].dtype), arrs[c]))
            for c in _VALUE_COLUMNS
        }
    frame = {
        "symbol": symbol,
        "brick_seq": range(seq, seq + len(event_time)),
        "event_time": event_time,
    }
    for c in _VALUE_COLUMNS:
        frame[c] = arrs[c]
    return pd.DataFrame(frame, columns=_OUT_COLUMNS)


def _clean_input(ticks: DataFrame, symbol_col: str, time_col: str, price_col: str) -> DataFrame:
    """Same null/NaN guard as batch renko(): NaN would silently poison
    the wick min/max state (and raise in the scalar scan); filtering on
    the projection keeps it at the source."""
    return ticks.select(symbol_col, time_col, price_col).filter(
        F.col(time_col).isNotNull()
        & F.col(price_col).isNotNull()
        & ~F.isnan(F.col(price_col).cast("double"))
    )


_FORMING_SCHEMA = T.StructType(
    list(STREAM_SCHEMA.fields) + [T.StructField("is_forming", T.IntegerType())]
)
_FORMING_COLUMNS = [f.name for f in _FORMING_SCHEMA.fields]

# extended state: + the last brick's mode-projected open (the forming
# bar's retrace branches need the previous brick's open AND close)
_ANIMATE_STATE_SCHEMA = _STATE_SCHEMA + ", last_open double"


def renko_stream_animate(
    ticks: DataFrame,
    brick_size: float,
    mode: str = "wicks",
    *,
    symbol_col: str = "symbol",
    time_col: str = "event_time",
    price_col: str = "close",
    initial_state: pd.DataFrame | None = None,
) -> DataFrame:
    """Streaming twin of the reference's `renko_animate`
    (renkodf.py:767-858): completed bricks plus one in-progress bar per
    key per micro-batch, flagged ``is_forming = 1`` with
    ``brick_seq = next_seq`` as the natural upsert key.

    Requires **update** output mode (the forming row for a key is
    re-emitted every batch). The forming bar's open/high/low follow the
    chosen ``mode``'s rules (reference computes them after mode
    projection); its values are written into every variant column, so
    only the chosen mode's projection of the forming row is meaningful.
    """
    if brick_size is None or brick_size <= 0:
        raise ValueError("brick_size cannot be 'None' or '<= 0'")
    if mode not in MODES:
        raise ValueError(f"Only {list(MODES)} options are valid.")
    open_src, _high_src, _low_src = MODE_SOURCES[mode]
    nongap_rule = mode in ("nongap", "reverse-nongap", "fake-r-nongap")
    warm = _warm_states(initial_state, open_src)

    def process(key, pdfs, state):
        symbol = key[0]
        stored = state.get if state.exists else warm.get(symbol)
        batch = _scan_batch(pdfs, stored, brick_size, time_col, price_col, True)
        if batch is None:
            return
        times, prices, kstate, seq, head, out = batch
        n = len(out["event_time"])
        if n:
            last_open = float(output_arrays(out)[open_src][-1])
        else:
            last_open = stored[-1] if stored is not None else kstate[0]  # cold: the anchor
        state.update(
            (kstate[0], kstate[1], kstate[2], kstate[3], int(kstate[4]), int(seq + n), last_open)
        )

        # forming bar (reference renko_animate branching, renkodf.py:817-849)
        price = float(prices[-1])
        last_close, _ld, wick_min, wick_max, volume, _to = kstate
        o = price
        h = wick_max if mode != "normal" else price
        lo = wick_min if mode != "normal" else price
        if last_close > last_open:  # previous brick was up
            if price > last_close:
                o = wick_min if nongap_rule else last_close
                if mode == "normal":
                    lo = last_close
            elif price < last_open:
                o = wick_max if nongap_rule else last_open
                if mode == "normal":
                    h = last_open
        else:
            if price < last_close:
                o = wick_max if nongap_rule else last_close
                if mode == "normal":
                    h = last_close
            elif price > last_open:
                o = wick_min if nongap_rule else last_open
                if mode == "normal":
                    lo = last_open
        direction = 1 if price > o else -1 if price < o else 0
        forming = {
            "symbol": symbol,
            "brick_seq": int(seq + n),
            "event_time": times[-1],
            "is_forming": 1,
            "close": price,
            "volume": int(volume),
            "direction": direction,
            "is_reversal": 0,
            "open": o,
            "high": h,
            "low": lo,
            "normal_high": h,
            "normal_low": lo,
            "nongap_open": o,
            "reverse_nongap_open": o,
            "reverse_fake_nongap_open": o,
            "reverse_high": h,
            "reverse_low": lo,
            "fake_high": h,
            "fake_low": lo,
        }
        frames = [pd.DataFrame([forming])]
        if n or head is not None:
            frames.insert(0, _batch_frame(symbol, seq, head, out).assign(is_forming=0))
        yield pd.concat(frames, ignore_index=True)[_FORMING_COLUMNS]

    slim = _clean_input(ticks, symbol_col, time_col, price_col)
    return slim.groupBy(symbol_col).applyInPandasWithState(
        process,
        outputStructType=_FORMING_SCHEMA,
        stateStructType=_ANIMATE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf="NoTimeout",
    )


def forming_bar_from_state(
    completed: pd.DataFrame,
    last_price: float,
    last_ts,
    state: tuple,
    mode: str = "wicks",
) -> pd.DataFrame:
    """Client-side forming-bar synthesis from the latest completed
    bricks + streaming state — the streaming analog of
    `RenkoLive.renko_animate` (reference renkodf.py:767-858) for sinks
    that want the in-progress bar."""
    from renkodf_spark.live import RenkoLive

    live = RenkoLive.__new__(RenkoLive)
    live._ts_unit = "us"
    live._brick_size = 0.0  # unused by animate
    live._buf = {"timestamp": completed["timestamp"].tolist() if "timestamp" in completed else []}
    from renkodf_spark.live import _LIVE_COLUMNS

    for c in _LIVE_COLUMNS:
        live._buf[c] = completed[c].tolist() if c in completed else []
    live._initial_df = live._wide_frame()
    last_close, last_dir, wick_min, wick_max, volume, _seq = state
    live._state = [last_close, last_dir, wick_min, wick_max, volume, 0]
    live._ws_timestamp = last_ts
    live._ws_price = last_price
    return live.renko_animate(mode, max_len=0)
