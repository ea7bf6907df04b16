"""Sequential Renko compression kernel. Every Spark path runs it
through `scan`, the one place that picks between the two bit-identical
loop variants: the batch host (`renkodf_spark.operators.renko`), the
chunked and sub-chunk passes, and both stream operators
(`renkodf_spark.streaming`, through the batch host's `scan_group`).
Only `RenkoLive` calls `scan_ticks` itself, one event at a time.

Semantics reproduce srlcarlg/renkodf (reference at
``/root/reference/src/renkodf/renkodf.py``):

- grid anchor = ``(first_price // brick) * brick`` (renkodf.py:88, :469)
- a brick closes when price moves >= 1 brick from the last brick close in
  the same direction, or >= 2 bricks against it (renkodf.py:109-131);
  the direction-reversing brick spans ``2 * brick`` and carries
  ``is_reversal = 1`` (renkodf.py:129-183)
- a multi-brick move ("gap") emits synthetic fill bricks with volume 1
  (renkodf.py:183-244)
- all seven mode column variants (normal / wicks / nongap /
  reverse-wicks / reverse-nongap / fake-r-wicks / fake-r-nongap) are
  computed for every brick in the same pass (renkodf.py:148-167); a
  "mode" is later a pure projection
- floating-point evaluation order is kept identical to the reference
  (reciprocal multiply renkodf.py:98, ``last + (dir * mult) * brick``
  renkodf.py:131, truncation-toward-zero brick count renkodf.py:185) so
  results are bit-equal, not merely close

The implementation is original, not a copy: output buffers grow
(the reference pre-allocates ``len(ticks)/divide_by`` rows and raises
IndexError when a gap emits more bricks than that — SURVEY.md §2 O-6 —
a cap we deliberately do not inherit) and there is a single emission
block instead of two duplicated branch bodies.
"""

from __future__ import annotations

# Canonical wide-table value columns, in order. The batch operator adds
# `symbol`, `brick_seq` and `event_time` around these; the streaming
# operator uses the same minus the two tick-index columns
# (reference keeps 17 columns in the ws table, renkodf.py:489-496).
WIDE_VALUE_COLUMNS = (
    "open",
    "high",
    "low",
    "close",
    "volume",
    "direction",
    "is_reversal",
    "tick_index_open",
    "tick_index_close",
    "normal_high",
    "normal_low",
    "nongap_open",
    "reverse_nongap_open",
    "reverse_fake_nongap_open",
    "reverse_high",
    "reverse_low",
    "fake_high",
    "fake_low",
)

def grid_anchor(price: float, brick: float) -> float:
    """Initial reference price: floor of the first price to the brick
    grid (reference renkodf.py:88)."""
    return (price // brick) * brick


# Kernel state vector layout (mutable list):
#   [last_close, last_direction, wick_min, wick_max, volume, tick_open]
# Mirrors the scalar state of RenkoWS (renkodf.py:504-508) plus the
# batch-only tick_open position (renkodf.py:92).
def new_state(first_price: float, brick: float) -> list:
    """Fresh kernel state anchored at the first tick's grid price."""
    anchor = grid_anchor(first_price, brick)
    return [anchor, 0, anchor, anchor, 1, 1]


_INT_VALUE_COLUMNS = frozenset(
    ("volume", "direction", "is_reversal", "tick_index_open", "tick_index_close")
)


def new_output() -> dict:
    """Growable column buffers for emitted bricks ('event_time' + wide
    value columns). Numeric columns use array-module buffers: appends
    cost the same as list appends but `output_arrays` converts them to
    numpy zero-copy (list->ndarray conversion dominated the operator
    cost before: ~30ms per 174k-row column x 18 columns)."""
    from array import array

    out = {"event_time": []}
    for name in WIDE_VALUE_COLUMNS:
        out[name] = array("q") if name in _INT_VALUE_COLUMNS else array("d")
    return out


def output_arrays(out: dict) -> dict:
    """Zero-copy numpy views over the output buffers (event_time stays
    a list: batch callers rebuild it from tick_index_close, streaming
    callers pass int64 epochs)."""
    import numpy as np

    res = {"event_time": out["event_time"]}
    for name in WIDE_VALUE_COLUMNS:
        buf = out[name]
        res[name] = (
            np.frombuffer(buf, dtype=np.int64 if buf.typecode == "q" else np.float64)
            if len(buf)
            else np.empty(0, dtype=np.int64 if buf.typecode == "q" else np.float64)
        )
    return res


def seed_row(timestamp, anchor: float) -> dict:
    """The streaming cold-start row: one synthetic brick at the anchor
    price, every OHLC/mode column = anchor, volume=1, direction=1,
    is_reversal=1 (reference renkodf.py:468-499; verified empirically,
    SURVEY.md §2 O-12). Tick indexes are 0 (absent in the reference's
    ws table)."""
    row = {"event_time": timestamp}
    for name in WIDE_VALUE_COLUMNS:
        row[name] = anchor
    row["volume"] = 1
    row["direction"] = 1
    row["is_reversal"] = 1
    row["tick_index_open"] = 0
    row["tick_index_close"] = 0
    return row


def scan_ticks(times, prices, start: int, brick: float, state: list, out: dict, stop: int | None = None) -> int:
    """Run the Renko recurrence over ``times/prices[start:]``, mutating
    ``state`` and appending one entry per emitted brick to ``out``.

    ``times`` and ``prices`` must be plain Python sequences (lists are
    fastest); the loop is the hot path (~2-3 M ticks/s/core) so
    everything lives in locals. Returns the number of bricks emitted.

    Semantics: per-tick wick/volume accumulation (renkodf.py:104-107),
    brick trigger and 2-brick reversal threshold (renkodf.py:109-131),
    per-brick mode variants (renkodf.py:148-167), state reset
    (renkodf.py:169-183).
    """
    last_close, last_dir, wick_min, wick_max, volume, tick_open = state
    inv_brick = 1.0 / brick  # reciprocal multiply, renkodf.py:98

    t_out = out["event_time"]
    o_out = out["open"]
    h_out = out["high"]
    l_out = out["low"]
    c_out = out["close"]
    v_out = out["volume"]
    d_out = out["direction"]
    rev_out = out["is_reversal"]
    tio_out = out["tick_index_open"]
    tic_out = out["tick_index_close"]
    nh_out = out["normal_high"]
    nl_out = out["normal_low"]
    ng_out = out["nongap_open"]
    rng_out = out["reverse_nongap_open"]
    rfng_out = out["reverse_fake_nongap_open"]
    rh_out = out["reverse_high"]
    rl_out = out["reverse_low"]
    fh_out = out["fake_high"]
    fl_out = out["fake_low"]

    emitted = 0
    n = len(prices) if stop is None else stop
    for i in range(start, n):
        price = prices[i]
        if price < wick_min:
            wick_min = price
        if price > wick_max:
            wick_max = price
        volume += 1

        moved = (price - last_close) * inv_brick
        if -1.0 < moved < 1.0:
            continue

        if moved > 0.0:
            direction = 1
            abs_moved = moved
        else:
            direction = -1
            abs_moved = -moved

        reversing = direction * last_dir < 0
        if reversing:
            # against the trend: need a full 2-brick traversal
            # (renkodf.py:129); the reversal brick consumes 2 bricks of
            # travel, the remainder fills one brick each
            if abs_moved < 2.0:
                continue
            n_bricks = int(abs_moved) - 1
        else:
            n_bricks = int(abs_moved)  # truncation toward zero, renkodf.py:185

        ts = times[i]
        up = direction > 0
        for j in range(n_bricks):
            is_rev = reversing and j == 0
            mult = 2 if is_rev else 1
            close_px = last_close + (direction * mult) * brick
            if up:
                open_px = close_px - brick
                wick = wick_min
                hi = close_px
                lo = wick
                body_hi = close_px
                body_lo = open_px
                nongap = wick if open_px > lo else open_px
            else:
                open_px = close_px + brick
                wick = wick_max
                hi = wick
                lo = close_px
                body_hi = open_px
                body_lo = close_px
                nongap = wick if open_px < hi else open_px

            # previous brick close doubles as the "fake" wick
            # (renkodf.py:164-167)
            fake_wick = last_close

            t_out.append(ts)
            o_out.append(open_px)
            h_out.append(hi)
            l_out.append(lo)
            c_out.append(close_px)
            v_out.append(volume)
            d_out.append(direction)
            rev_out.append(1 if is_rev else 0)
            tio_out.append(tick_open)
            tic_out.append(i)
            nh_out.append(body_hi)
            nl_out.append(body_lo)
            ng_out.append(nongap)
            if is_rev:
                rng_out.append(nongap)
                rfng_out.append(fake_wick)
                rh_out.append(hi)
                rl_out.append(lo)
                fh_out.append(fake_wick if not up else body_hi)
                fl_out.append(fake_wick if up else body_lo)
            else:
                rng_out.append(open_px)
                rfng_out.append(open_px)
                rh_out.append(body_hi)
                rl_out.append(body_lo)
                fh_out.append(body_hi)
                fl_out.append(body_lo)

            # reset running state (renkodf.py:169-183): wick restarts at
            # the open on a reversal, at the close otherwise
            wick_min = wick_max = open_px if is_rev else close_px
            tick_open = i
            volume = 1
            last_dir = direction
            last_close = close_px
            emitted += 1

    state[0] = last_close
    state[1] = last_dir
    state[2] = wick_min
    state[3] = wick_max
    state[4] = volume
    state[5] = tick_open
    return emitted


def scan_ticks_vectorized(times, prices_np, start: int, brick: float, state: list, out: dict) -> int:
    """Skip-scan variant for sparse-emission streams (realistic market
    ticks: the reference's EURGBP set emits ~1 brick per 1400 ticks).

    Between bricks `last_close` is constant, so the next candidate tick
    is the first with |price - last_close| >= brick — found with a
    vectorized block mask; the skipped span contributes only wick
    min/max and volume (numpy reductions). Candidate ticks (emissions
    AND the 1..2-brick reversal dead zone) run through the exact scalar
    `scan_ticks` step, so results are bit-identical to the plain loop.

    ~20-40x faster than the scalar loop when emission density is low;
    slower when nearly every tick emits — `scan` picks the variant via
    `choose_scan`."""
    import numpy as np

    emitted = 0
    n = len(prices_np)
    i = start
    block = 8192

    def absorb(lo: int, hi_: int) -> None:
        span = prices_np[lo:hi_]
        smin = float(span.min())
        smax = float(span.max())
        if smin < state[2]:
            state[2] = smin
        if smax > state[3]:
            state[3] = smax
        state[4] += hi_ - lo

    # Candidate thresholds are *directional*: with the trend one brick
    # suffices, against it two (the reversal threshold). Ticks inside
    # the dead zone never change state beyond wick/volume, so they are
    # absorbed by the span reductions. A tiny margin keeps the mask a
    # superset of the kernel's (p-lc)*inv_brick test under FP rounding;
    # flagged-but-non-emitting ticks just take the exact scalar step.
    margin = brick * 1e-9
    while i < n:
        lc0 = state[0]
        last_dir = state[1]
        up_thr = lc0 + (brick if last_dir >= 0 else 2.0 * brick) - margin
        dn_thr = lc0 - (brick if last_dir <= 0 else 2.0 * brick) + margin
        hi = min(i + block, n)
        chunk = prices_np[i:hi]
        candidates = np.nonzero((chunk >= up_thr) | (chunk <= dn_thr))[0]
        pos = i
        for j_rel in candidates.tolist():
            j = i + j_rel
            if j > pos:
                absorb(pos, j)
            emitted += scan_ticks(times, prices_np, j, brick, state, out, stop=j + 1)
            pos = j + 1
            if state[0] != lc0:
                break  # last_close moved: thresholds are stale
        else:
            if hi > pos:
                absorb(pos, hi)
                pos = hi
        i = pos
    return emitted


def choose_scan(prices_np, brick: float) -> bool:
    """True -> use the vectorized skip-scan (sparse emissions)."""
    import numpy as np

    n = len(prices_np)
    if n < 4096:
        return False
    # mean |tick-to-tick move| from a few contiguous windows (strided
    # sampling would inflate diffs by ~sqrt(stride) on a random walk)
    win = 2048
    starts = np.linspace(0, n - win, num=min(8, max(1, n // win)), dtype=np.int64)
    diffs = [np.abs(np.diff(prices_np[s : s + win])) for s in starts]
    density = float(np.mean(np.concatenate(diffs))) / brick
    # vectorized wins ~10x below this; the scalar loop wins above it
    # (measured: 0.013 -> 70 vs 7 M ticks/s; 0.04 -> 7.1 vs 8.5)
    return density < 0.02


def scan(times, prices_np, start: int, brick: float, state: list, out: dict) -> int:
    """Run the recurrence over ``prices_np[start:]`` (a float64 array)
    with the variant `choose_scan` picks — the one dispatch every host
    uses. Both variants are bit-identical; only the speed differs."""
    if choose_scan(prices_np, brick):
        return scan_ticks_vectorized(times, prices_np, start, brick, state, out)
    # python-list indexing is ~2x faster than numpy scalar access
    return scan_ticks(times, prices_np.tolist(), start, brick, state, out)
