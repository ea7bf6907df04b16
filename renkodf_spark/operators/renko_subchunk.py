"""Skew-aware sub-window chunking for ``renko_chunked`` hot symbols.

The Renko recurrence is sequential per symbol, so a symbol that carries
half of a window's ticks pins the whole window to ONE task (measured at
the x100 skew bench: achieved parallelism ~6/32, the hot task ~20 s of
a 24 s window — VERDICT r8 item 3).  This module breaks that serial
floor with *speculative* sub-chunk scans plus a cheap sequential
stitch, while keeping the output bit-identical to the one-shot scan:

1. **Spec pass** (parallel, one task per (symbol, sub-chunk)): the hot
   symbol's window is split into time-contiguous sub-chunks (quantile
   boundaries, so ticks with equal timestamps never straddle a cut).
   Sub-chunk 0 scans from the true incoming state — its bricks are
   final.  Sub-chunks i>0 scan speculatively from a cold grid-anchored
   state; besides their (provisional) bricks they emit a compact
   summary: the final kernel state plus a *sync blob* — for each of the
   first ``SYNC_CAP`` emitting ticks, the post-tick
   ``(tick, last_close, last_dir, is_reversal, cum_bricks)``.

2. **Repair pass** (one task per hot symbol, receives the window's full
   tick group = the built-in exact fallback): walks the boundaries
   sequentially.  For sub-chunk i it rescans the chunk *prefix* from
   the true state in growing blocks until the true post-emission state
   matches a spec sync candidate **bitwise** (same tick, bit-equal
   ``last_close``, same direction and reversal flag — the wick/volume/
   tick_open components reset deterministically at every emission, so
   bit-equality of those four implies bit-equality of the full state
   and therefore of every subsequent brick).  It emits the prefix
   bricks, a per-chunk splice decision ``(keep_from, seq_base,
   tick_shift)``, and the symbol's final window state.  If no candidate
   matches within the spec horizon it simply keeps scanning to the
   chunk end — correct, serial for that chunk only.

3. **Assembly** (declarative): spec bricks join the broadcast decisions
   on (symbol, sub), drop ``local_seq < keep_from``, and shift their
   brick_seq / tick indexes; union with the repair bricks.

Why bitwise convergence is the right test: grid levels are built by the
reference's own sequential FP accumulation ``L += (dir*mult)*brick``
(renkodf.py:131), so two scans agree forever iff their states are
bit-equal once.  When brick and price arithmetic is exact in float64
(dyadic brick sizes — e.g. the 5.0-brick / 2-decimal-price bench
regime), every same-lattice path yields identical bits and convergence
fires within a few emissions.  When accumulation is inexact the match
simply never fires and the repair scan degrades to today's serial
behaviour — still bit-exact, no speedup, no wrong answer.

Reference parity: the stitch is the same warm-start handoff the
reference proves in test_ws_ext.py:39-58, except the *entire* scalar
state crosses the splice, so there is no one-bar wick/volume
discrepancy to forgive.

Memory bound (VERDICT r9 item 7): a SPEC task holds one sub-chunk —
O(``subchunk_target``) ticks — but a REPAIR task receives the hot
symbol's ENTIRE window group (it is the built-in exact fallback, so it
must be able to scan to any chunk's end), i.e. per-repair-task input =
O(ticks of that symbol in that window) as Arrow columns (~16 B/tick)
plus the emitted-brick buffers. Size the chunking window so the
hottest symbol's per-window tick count fits one executor's task
memory: at the default 500k-tick sub-chunks, a 1 GiB task budget
comfortably covers ~30 M hot-symbol ticks per window; if one symbol
exceeds that, shrink ``window`` (more windows, state carried across
them by renko_chunked) rather than ``subchunk_target``, which only
changes spec-task granularity, not the repair bound.
"""

from __future__ import annotations

import time

import numpy as np
from pyspark.sql import types as T

from renkodf_spark.kernel import (
    WIDE_VALUE_COLUMNS,
    choose_scan,
    grid_anchor,
    new_output,
    output_arrays,
    scan_ticks,
    scan_ticks_vectorized,
)
from renkodf_spark.operators.renko import _const_str_array
from renkodf_spark.schema import WIDE_SCHEMA

# sync-candidate horizon: emitting ticks recorded per speculative chunk
# (~34 B each -> <=560 KB per chunk). Convergence normally lands within
# the first handful of emissions; past the horizon the repair pass
# falls back to a full serial scan of that one chunk.
SYNC_CAP = 16384

# per-symbol carry state fields (mirrors renko_chunked._STATE_FIELDS)
_STATE_FIELDS = [
    ("last_close", T.DoubleType()),
    ("last_dir", T.LongType()),
    ("wick_min", T.DoubleType()),
    ("wick_max", T.DoubleType()),
    ("volume", T.LongType()),
    ("tick_open", T.LongType()),
    ("next_seq", T.LongType()),
    ("tick_offset", T.LongType()),
    ("first_ts", T.TimestampType()),
]
_STATE_COLS = [f"__st_{name}" for name, _ in _STATE_FIELDS]

# row kinds in the shared spec/repair output schema
KIND_BRICK = 0
KIND_STATE = 1
KIND_DECISION = 2
KIND_SUMMARY = 3

_EXTRA_FIELDS = (
    [T.StructField("__row_kind", T.IntegerType()), T.StructField("__sub", T.LongType())]
    + [T.StructField(f"__st_{name}", dtype) for name, dtype in _STATE_FIELDS]
    + [
        T.StructField("__n_bricks", T.LongType()),
        T.StructField("__keep_from", T.LongType()),
        T.StructField("__seq_base", T.LongType()),
        T.StructField("__tick_shift", T.LongType()),
        T.StructField("__sync_ticks", T.BinaryType()),
        T.StructField("__sync_close", T.BinaryType()),
        T.StructField("__sync_dir", T.BinaryType()),
        T.StructField("__sync_rev", T.BinaryType()),
        T.StructField("__sync_cum", T.BinaryType()),
    ]
)

# one shared output schema for both passes: brick rows, summary rows,
# decision rows and state rows null-pad whatever they don't carry
SUB_SCHEMA = T.StructType(list(WIDE_SCHEMA.fields) + _EXTRA_FIELDS)


def _arrow_type(dt, ts_type):
    import pyarrow as pa

    if isinstance(dt, T.StringType):
        return pa.string()
    if isinstance(dt, T.LongType):
        return pa.int64()
    if isinstance(dt, T.DoubleType):
        return pa.float64()
    if isinstance(dt, T.IntegerType):
        return pa.int32()
    if isinstance(dt, T.TimestampType):
        return ts_type
    if isinstance(dt, T.BinaryType):
        return pa.binary()
    raise TypeError(f"unmapped spark type {dt}")


def _sub_table(ts_type, cols: dict, m: int):
    """A SUB_SCHEMA-shaped arrow table; absent columns become typed nulls."""
    import pyarrow as pa

    names, arrays = [], []
    for f in SUB_SCHEMA.fields:
        names.append(f.name)
        arrays.append(
            cols[f.name] if f.name in cols else pa.nulls(m, _arrow_type(f.dataType, ts_type))
        )
    return pa.table(arrays, names=names)


def _state_cols(ts_type, st: dict):
    """__st_* columns (length-1 arrays) from a python state dict."""
    import pyarrow as pa

    cols = {}
    for name, dtype in _STATE_FIELDS:
        c = f"__st_{name}"
        v = st.get(c)
        at = _arrow_type(dtype, ts_type)
        if v is None or (isinstance(v, float) and np.isnan(v)):
            cols[c] = pa.nulls(1, at)
        else:
            cols[c] = pa.array([v]).cast(at)
    return cols


def _sorted_group(tick_tbl):
    """(symbol, times[datetime64], prices, n) in the canonical stable
    (__time, __seq) order — identical to the one-shot operator's sort."""
    tick_tbl = tick_tbl.combine_chunks()
    sym = tick_tbl.column("symbol")[0].as_py()
    t = tick_tbl.column("__time").to_numpy(zero_copy_only=False)
    p = tick_tbl.column("__price").to_numpy(zero_copy_only=False)
    s = tick_tbl.column("__seq").to_numpy(zero_copy_only=False)
    order = np.lexsort((s, t.view("int64")))
    return sym, t[order], p[order], len(p)


def _emission_sync(arrs, n_prev: int, n_now: int):
    """Per-emitting-tick post-state over bricks [n_prev:n_now): arrays
    (tick, last_close, last_dir, is_rev_of_last_brick, cum_bricks).
    A tick's bricks are always contiguous, so 'last brick per tick' is
    the position before each tick change."""
    tic = arrs["tick_index_close"][n_prev:n_now]
    if len(tic) == 0:
        z = np.empty(0, dtype=np.int64)
        return z, np.empty(0), np.empty(0, np.int64), np.empty(0, np.int64), z
    last = np.nonzero(np.diff(tic))[0]
    last = np.concatenate([last, [len(tic) - 1]])
    return (
        tic[last],
        arrs["close"][n_prev:n_now][last],
        arrs["direction"][n_prev:n_now][last],
        arrs["is_reversal"][n_prev:n_now][last],
        np.int64(n_prev) + last + 1,  # cum bricks through that tick
    )


def _pack_sync(ticks, close, dirs, rev, cum):
    k = min(len(ticks), SYNC_CAP)
    return {
        "__sync_ticks": ticks[:k].astype(np.int64).tobytes(),
        "__sync_close": close[:k].astype(np.float64).tobytes(),
        "__sync_dir": dirs[:k].astype(np.int8).tobytes(),
        "__sync_rev": rev[:k].astype(np.int8).tobytes(),
        "__sync_cum": cum[:k].astype(np.int64).tobytes(),
    }


def _unpack_sync(row: dict):
    return (
        np.frombuffer(row["__sync_ticks"] or b"", dtype=np.int64),
        np.frombuffer(row["__sync_close"] or b"", dtype=np.float64),
        np.frombuffer(row["__sync_dir"] or b"", dtype=np.int8),
        np.frombuffer(row["__sync_rev"] or b"", dtype=np.int8),
        np.frombuffer(row["__sync_cum"] or b"", dtype=np.int64),
    )


def _brick_cols(sym, arrs, lo, hi, times_local, ts_type, seq0: int):
    """WIDE brick columns for bricks [lo:hi) of an output-array dict,
    tick indexes left chunk-local, brick_seq starting at seq0."""
    import pyarrow as pa

    m = hi - lo
    ev = times_local[arrs["tick_index_close"][lo:hi]].astype("datetime64[us]")
    cols = {
        "symbol": _const_str_array(sym, m),
        "brick_seq": pa.array(np.arange(seq0, seq0 + m, dtype=np.int64)),
        "event_time": pa.array(ev).cast(ts_type),
        "__row_kind": pa.array(np.full(m, KIND_BRICK, dtype=np.int32)),
    }
    for name in WIDE_VALUE_COLUMNS:
        cols[name] = pa.array(arrs[name][lo:hi])
    return cols, ev


def _scan_full(times, prices, start, brick, kstate, out):
    """Exact full scan with the density-appropriate kernel."""
    if choose_scan(prices, brick):
        return scan_ticks_vectorized(times, prices, start, brick, kstate, out)
    return scan_ticks(times, prices.tolist(), start, brick, kstate, out)


def make_spec_runner(
    brick: float, drop_first: bool, first_ids: dict, acc_py=None, acc_kernel=None
):
    """Cogroup body for the parallel pass over (symbol, __sub) groups.

    The first chunk (``first_ids[symbol]`` — sub-chunk ids are chosen
    for collision-free shuffle placement, see renko_chunked._hot_plan —
    cogrouped with the carry-state row) runs the exact scan: the same
    recurrence as renko_chunked._run_body, emitting chunk-LOCAL
    brick_seq / tick indexes plus a KIND_SUMMARY row with its exact
    final state.  Later chunks run speculatively from a cold grid
    anchor and additionally pack the sync blob.
    """

    def run(tick_tbl, state_tbl):
        t0 = time.perf_counter() if acc_py is not None else 0.0
        try:
            return _run(tick_tbl, state_tbl)
        finally:
            if acc_py is not None:
                acc_py.add(time.perf_counter() - t0)

    def _run(tick_tbl, state_tbl):
        import pyarrow as pa

        ts_type = tick_tbl.schema.field("__time").type
        if tick_tbl.num_rows == 0:
            # state row for a sub-chunk with no ticks can't happen for
            # hot symbols (hot => ticks present); return empty
            return _sub_table(ts_type, {}, 0)

        sub = int(tick_tbl.column("__sub")[0].as_py())
        sym, times, prices, n = _sorted_group(tick_tbl)
        have_state = state_tbl.num_rows > 0

        if sub == first_ids.get(sym, 0):
            # ---- exact chunk-0 scan (bit-for-bit _run_body semantics,
            # local indexing; offset handling moves to the repair pass)
            if not have_state:
                anchor = grid_anchor(float(prices[0]), brick)
                kstate = [anchor, 0, anchor, anchor, 1, 1]
                next_seq, first_ts = 0, None
                start = 1
            else:
                st = {c: state_tbl.column(c)[0].as_py() for c in _STATE_COLS if c != "__st_first_ts"}
                offset = int(st["__st_tick_offset"])
                next_seq = int(st["__st_next_seq"])
                ft = state_tbl.column("__st_first_ts").to_numpy(zero_copy_only=False)[0]
                first_ts = None if np.isnat(ft) else ft.astype("datetime64[us]")
                kstate = [
                    float(st["__st_last_close"]),
                    int(st["__st_last_dir"]),
                    float(st["__st_wick_min"]),
                    float(st["__st_wick_max"]),
                    int(st["__st_volume"]),
                    int(st["__st_tick_open"]) - offset,  # window-local == chunk-local (chunk 0)
                ]
                start = 0
            out = new_output()
            tk = time.perf_counter() if acc_kernel is not None else 0.0
            _scan_full(times, prices, start, brick, kstate, out)
            if acc_kernel is not None:
                acc_kernel.add(time.perf_counter() - tk)
            arrs = output_arrays(out)
            m_all = len(arrs["close"])
            ev = (
                times[arrs["tick_index_close"]].astype("datetime64[us]")
                if m_all
                else np.empty(0, dtype="datetime64[us]")
            )
            if m_all and first_ts is None:
                first_ts = ev[0]
            lo = hi = 0
            if drop_first and first_ts is not None:
                lo = int(np.searchsorted(ev, first_ts, side="left"))
                hi = int(np.searchsorted(ev, first_ts, side="right"))
            keep = np.concatenate([np.arange(0, lo), np.arange(hi, m_all)])
            cut = {k: v[keep] for k, v in output_arrays(out).items() if k != "event_time"}
            cols, _ = _brick_cols(sym, cut, 0, len(keep), times, ts_type, 0)
            cols["__sub"] = pa.array(np.full(len(keep), sub, dtype=np.int64))
            bricks = _sub_table(ts_type, cols, len(keep))

            scols = {
                "symbol": pa.array([sym], pa.string()),
                "__row_kind": pa.array([KIND_SUMMARY], pa.int32()),
                "__sub": pa.array([sub], pa.int64()),
                "__n_bricks": pa.array([len(keep)], pa.int64()),
            }
            scols.update(
                _state_cols(
                    ts_type,
                    {
                        "__st_last_close": kstate[0],
                        "__st_last_dir": kstate[1],
                        "__st_wick_min": kstate[2],
                        "__st_wick_max": kstate[3],
                        "__st_volume": kstate[4],
                        "__st_tick_open": kstate[5],  # chunk-local
                        "__st_next_seq": int(next_seq),  # incoming; repair renumbers
                        "__st_tick_offset": 0,
                        "__st_first_ts": first_ts,
                    },
                )
            )
            return pa.concat_tables([bricks, _sub_table(ts_type, scols, 1)])

        # ---- speculative sub>0 scan from a cold grid anchor; in exact
        # FP regimes this lattice is bit-identical to the true one, so
        # the repair pass can verify convergence bitwise
        anchor = grid_anchor(float(prices[0]), brick)
        kstate = [anchor, 0, anchor, anchor, 1, 0]
        out = new_output()
        tk = time.perf_counter() if acc_kernel is not None else 0.0
        _scan_full(times, prices, 0, brick, kstate, out)
        if acc_kernel is not None:
            acc_kernel.add(time.perf_counter() - tk)
        arrs = output_arrays(out)
        m = len(arrs["close"])
        cols, _ = _brick_cols(sym, arrs, 0, m, times, ts_type, 0)
        cols["__sub"] = pa.array(np.full(m, sub, dtype=np.int64))
        bricks = _sub_table(ts_type, cols, m)

        sync = _emission_sync(arrs, 0, m)
        scols = {
            "symbol": pa.array([sym], pa.string()),
            "__row_kind": pa.array([KIND_SUMMARY], pa.int32()),
            "__sub": pa.array([sub], pa.int64()),
            "__n_bricks": pa.array([m], pa.int64()),
        }
        for k, v in _pack_sync(*sync).items():
            scols[k] = pa.array([v], pa.binary())
        scols.update(
            _state_cols(
                ts_type,
                {
                    "__st_last_close": kstate[0],
                    "__st_last_dir": kstate[1],
                    "__st_wick_min": kstate[2],
                    "__st_wick_max": kstate[3],
                    "__st_volume": kstate[4],
                    "__st_tick_open": kstate[5],  # chunk-local
                    "__st_next_seq": 0,
                    "__st_tick_offset": 0,
                    "__st_first_ts": None,
                },
            )
        )
        return pa.concat_tables([bricks, _sub_table(ts_type, scols, 1)])

    return run


def make_repair_runner(
    brick: float,
    drop_first: bool,
    plans_by_symbol: dict,
    acc_py=None,
    acc_kernel=None,
    acc_converged=None,
    acc_fallback=None,
    acc_repair_ticks=None,
):
    """Cogroup body for the sequential stitch: left = the hot symbol's
    FULL window tick group (the universal exact fallback), right = the
    spec summaries plus the incoming carry-state row.

    ``plans_by_symbol``: {symbol: {"bnds": [boundary micros...],
    "ids": [chunk ids...]}} — the same quantile cuts and chosen chunk
    ids the Spark-side ``__sub`` expression used, so ``searchsorted``
    on the boundaries reproduces the assignment and ``ids[k]`` keys the
    k-th chunk's spec summary and splice decision."""
    plans_plain = {
        s: ([int(b) for b in p["bnds"]], [int(i) for i in p["ids"]])
        for s, p in plans_by_symbol.items()
    }

    def run(tick_tbl, side_tbl):
        t0 = time.perf_counter() if acc_py is not None else 0.0
        try:
            return _run(tick_tbl, side_tbl)
        finally:
            if acc_py is not None:
                acc_py.add(time.perf_counter() - t0)

    def _run(tick_tbl, side_tbl):
        import pyarrow as pa

        ts_type = tick_tbl.schema.field("__time").type
        if tick_tbl.num_rows == 0:
            return _sub_table(ts_type, {}, 0)
        sym, times, prices, n = _sorted_group(tick_tbl)
        bnds_l, ids = plans_plain.get(sym, ([], [0]))
        bnds = np.asarray(bnds_l, dtype=np.int64)
        t_us = times.astype("datetime64[us]").view("int64")
        # chunk spans: [cut[i], cut[i+1]) — identical to the Spark-side
        # size(filter(boundaries <= t)) assignment
        cuts = [0] + [int(np.searchsorted(t_us, b, side="left")) for b in bnds] + [n]

        side = side_tbl.combine_chunks()
        kind = side.column("__row_kind").to_numpy(zero_copy_only=False)
        # timestamps must be read as datetime64 UTC instants — as_py
        # would hand back session-tz datetimes (same pitfall as
        # renko_chunked._run_body)
        fts_np = side.column("__st_first_ts").to_numpy(zero_copy_only=False)
        summaries = {}
        state_row = None
        for i in range(side.num_rows):
            row = {
                f.name: side.column(f.name)[i].as_py()
                for f in SUB_SCHEMA.fields
                if not isinstance(f.dataType, T.TimestampType)
            }
            ft = fts_np[i]
            row["__st_first_ts"] = None if np.isnat(ft) else ft.astype("datetime64[us]")
            if kind[i] == KIND_SUMMARY:
                summaries[int(row["__sub"])] = row
            elif kind[i] == KIND_STATE:
                state_row = row

        # incoming window state (globals)
        if state_row is not None:
            win_offset = int(state_row["__st_tick_offset"])
            running_seq = int(state_row["__st_next_seq"])
            first_ts = state_row["__st_first_ts"]
            cur = [
                float(state_row["__st_last_close"]),
                int(state_row["__st_last_dir"]),
                float(state_row["__st_wick_min"]),
                float(state_row["__st_wick_max"]),
                int(state_row["__st_volume"]),
                int(state_row["__st_tick_open"]),  # global
            ]
        else:
            win_offset, running_seq, first_ts, cur = 0, 0, None, None

        brick_tables = []
        dec = {"sub": [], "keep_from": [], "seq_base": [], "tick_shift": []}

        for sub in range(len(cuts) - 1):
            lo, hi = cuts[sub], cuts[sub + 1]
            if hi <= lo:
                continue
            sub_id = ids[sub]
            summ = summaries.get(sub_id)
            assert summ is not None, f"missing spec summary for {sym} sub={sub_id}"
            shift = win_offset + lo
            n_spec = int(summ["__n_bricks"])

            if sub == 0:
                # chunk 0 ran exactly in the spec pass: adopt its output
                dec["sub"].append(sub_id)
                dec["keep_from"].append(0)
                dec["seq_base"].append(running_seq)
                dec["tick_shift"].append(shift)
                running_seq += n_spec
                cur = [
                    float(summ["__st_last_close"]),
                    int(summ["__st_last_dir"]),
                    float(summ["__st_wick_min"]),
                    float(summ["__st_wick_max"]),
                    int(summ["__st_volume"]),
                    int(summ["__st_tick_open"]) + shift,  # -> global
                ]
                if first_ts is None and summ["__st_first_ts"] is not None:
                    first_ts = summ["__st_first_ts"]
                continue

            # ---- repair scan of chunk `sub` from the true state
            ct = times[lo:hi]
            cp = prices[lo:hi]
            if cur is None:
                # cold symbol whose sub-0 span was empty (boundary tie at
                # the min timestamp): this chunk IS the cold start — same
                # anchor/start=1 seeding as the one-shot scan; the spec
                # scan of this chunk remains splice-able via convergence
                anchor = grid_anchor(float(cp[0]), brick)
                kstate = [anchor, 0, anchor, anchor, 1, 1]
                pos0 = 1
            else:
                kstate = [cur[0], cur[1], cur[2], cur[3], cur[4], cur[5] - shift]
                pos0 = 0
            s_ticks, s_close, s_dir, s_rev, s_cum = _unpack_sync(summ)
            horizon = int(s_ticks[-1]) if len(s_ticks) else -1

            out = new_output()
            pos, blk = pos0, 1024
            jstar = -1
            keep_from = n_spec  # default: no spec bricks survive
            m = hi - lo
            vec = choose_scan(cp, brick)
            cp_list: list = []  # scalar-path prefix, extended lazily
            while pos < m and horizon >= 0:
                stop = min(pos + blk, m)
                n_prev = len(out["close"])
                tk = time.perf_counter() if acc_kernel is not None else 0.0
                if vec:
                    # sliced views keep tick indexes chunk-local
                    scan_ticks_vectorized(ct[:stop], cp[:stop], pos, brick, kstate, out)
                else:
                    if len(cp_list) < stop:
                        cp_list.extend(cp[len(cp_list) : stop].tolist())
                    scan_ticks(ct, cp_list, pos, brick, kstate, out, stop=stop)
                if acc_kernel is not None:
                    acc_kernel.add(time.perf_counter() - tk)
                if acc_repair_ticks is not None:
                    acc_repair_ticks.add(stop - pos)
                # the views over `out` must not outlive this call: the next
                # block appends to `out`, which cannot resize a buffer that
                # still exports views (_emission_sync returns copies)
                tticks, tclose, tdir, trev, _ = _emission_sync(
                    output_arrays(out), n_prev, len(out["close"])
                )
                if len(tticks):
                    common, ti, si = np.intersect1d(
                        tticks, s_ticks, assume_unique=True, return_indices=True
                    )
                    if len(common):
                        ok = (
                            (tclose[ti].view(np.int64) == s_close[si].view(np.int64))
                            & (tdir[ti] == s_dir[si])
                            & (trev[ti] == s_rev[si])
                        )
                        w = np.nonzero(ok)[0]
                        if len(w):
                            k = w[0]
                            jstar = int(common[k])
                            keep_from = int(s_cum[si[k]])
                            break
                pos = stop
                blk = min(blk * 8, 262144)
                if pos > horizon:
                    horizon = -1  # past the spec sync horizon: no splice possible
            if jstar >= 0:
                if acc_converged is not None:
                    acc_converged.add(1)
                arrs = output_arrays(out)
                # keep true bricks through j*, then adopt the spec tail
                n_true = int(np.searchsorted(arrs["tick_index_close"], jstar, side="right"))
                final_state = [
                    float(summ["__st_last_close"]),
                    int(summ["__st_last_dir"]),
                    float(summ["__st_wick_min"]),
                    float(summ["__st_wick_max"]),
                    int(summ["__st_volume"]),
                    int(summ["__st_tick_open"]) + shift,
                ]
            else:
                if acc_fallback is not None:
                    acc_fallback.add(1)
                # no convergence possible: finish the chunk with the
                # full-speed exact scan (vectorized or list-backed)
                if pos < m:
                    tk = time.perf_counter() if acc_kernel is not None else 0.0
                    if choose_scan(cp, brick):
                        scan_ticks_vectorized(ct, cp, pos, brick, kstate, out)
                    else:
                        if len(cp_list) < m:
                            cp_list.extend(cp[len(cp_list) :].tolist())
                        scan_ticks(ct, cp_list, pos, brick, kstate, out)
                    if acc_kernel is not None:
                        acc_kernel.add(time.perf_counter() - tk)
                    if acc_repair_ticks is not None:
                        acc_repair_ticks.add(m - pos)
                arrs = output_arrays(out)
                n_true = len(arrs["close"])
                keep_from = n_spec
                final_state = [kstate[0], kstate[1], kstate[2], kstate[3], kstate[4], kstate[5] + shift]

            # first-brick label drop can reach into this chunk only when
            # nothing earlier in the symbol's history emitted (first_ts
            # unset): the run is at the head of the resolved stream
            drop_lo = 0
            drop_spec = 0
            if n_true and first_ts is None:
                first_ts = ct[arrs["tick_index_close"][0]].astype("datetime64[us]")
                if drop_first:
                    ev_true = ct[arrs["tick_index_close"][:n_true]].astype("datetime64[us]")
                    drop_lo = int(np.searchsorted(ev_true, first_ts, side="right"))
                    if drop_lo == n_true and keep_from < n_spec and len(s_ticks):
                        # run may extend into the adopted spec tail: count
                        # kept spec bricks whose event time equals first_ts
                        s_ev = ct[s_ticks].astype("datetime64[us]")
                        pos_k = int(np.searchsorted(s_cum, keep_from, side="right"))
                        while pos_k < len(s_ticks) and s_ev[pos_k] == first_ts:
                            drop_spec += int(s_cum[pos_k] - max(keep_from, s_cum[pos_k - 1] if pos_k else 0))
                            pos_k += 1

            if n_true - drop_lo > 0:
                cols, _ = _brick_cols(sym, arrs, drop_lo, n_true, ct, ts_type, running_seq)
                # globalize tick indexes
                cols["tick_index_open"] = pa.array(arrs["tick_index_open"][drop_lo:n_true] + shift)
                cols["tick_index_close"] = pa.array(arrs["tick_index_close"][drop_lo:n_true] + shift)
                brick_tables.append(_sub_table(ts_type, cols, n_true - drop_lo))
            running_seq += n_true - drop_lo

            dec["sub"].append(sub_id)
            dec["keep_from"].append(keep_from + drop_spec)
            dec["seq_base"].append(running_seq)
            dec["tick_shift"].append(shift)
            running_seq += n_spec - keep_from - drop_spec
            cur = final_state

        # ---- decisions + final state
        nd = len(dec["sub"])
        dcols = {
            "symbol": _const_str_array(sym, nd),
            "__row_kind": pa.array(np.full(nd, KIND_DECISION, dtype=np.int32)),
            "__sub": pa.array(np.asarray(dec["sub"], dtype=np.int64)),
            "__keep_from": pa.array(np.asarray(dec["keep_from"], dtype=np.int64)),
            "__seq_base": pa.array(np.asarray(dec["seq_base"], dtype=np.int64)),
            "__tick_shift": pa.array(np.asarray(dec["tick_shift"], dtype=np.int64)),
        }
        tables = brick_tables + [_sub_table(ts_type, dcols, nd)]

        scols = {
            "symbol": pa.array([sym], pa.string()),
            "__row_kind": pa.array([KIND_STATE], pa.int32()),
        }
        scols.update(
            _state_cols(
                ts_type,
                {
                    "__st_last_close": cur[0],
                    "__st_last_dir": cur[1],
                    "__st_wick_min": cur[2],
                    "__st_wick_max": cur[3],
                    "__st_volume": cur[4],
                    "__st_tick_open": cur[5],
                    "__st_next_seq": running_seq,
                    "__st_tick_offset": win_offset + n,
                    "__st_first_ts": first_ts,
                },
            )
        )
        tables.append(_sub_table(ts_type, scols, 1))
        return pa.concat_tables(tables)

    return run
