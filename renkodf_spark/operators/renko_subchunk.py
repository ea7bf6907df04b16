"""Skew-aware sub-window chunking for ``renko_chunked`` hot symbols.

The Renko recurrence is sequential per symbol, so a symbol that carries
half of a window's ticks pins the whole window to ONE task (measured at
the x100 skew bench: achieved parallelism ~6/32, the hot task ~20 s of
a 24 s window — VERDICT r8 item 3).  This module breaks that serial
floor with *speculative* sub-chunk scans plus a cheap sequential
stitch, while keeping the output bit-identical to the one-shot scan:

1. **Spec pass** (parallel): the hot symbol's window is split into
   time-contiguous sub-chunks ``__sub = k`` (quantile boundaries, so
   ticks with equal timestamps never straddle a cut). Each chunk has a
   running number across the window's hot symbols, its *slot*, and
   ``repartitionById`` sends it to partition ``slot mod P``: one chunk
   per partition while the chunks fit the shuffle partitions, whole
   chunks spread round-robin beyond that. Every chunk scans
   speculatively from a cold grid-anchored state (`make_spec_runner`);
   besides its (provisional) bricks it emits a compact summary: the
   final kernel state plus a *sync blob* — for each of the first
   ``SYNC_CAP`` emitting ticks, the post-tick
   ``(tick, last_close, last_dir, is_reversal, cum_bricks)``. No carry
   crosses this pass.

2. **Repair pass** (one task per hot symbol, receives the window's full
   tick group = the built-in exact fallback, plus the summaries and the
   incoming carry): walks the chunks sequentially, chunk 0 included.
   For chunk k it rescans the chunk *prefix* from the true state (the
   incoming carry, or a cold start at the symbol's first tick) in
   growing blocks until the true post-emission state matches a spec
   sync candidate **bitwise** (same tick, bit-equal ``last_close``,
   same direction and reversal flag — the wick/volume/tick_open
   components reset deterministically at every emission, so
   bit-equality of those four implies bit-equality of the full state
   and therefore of every subsequent brick). It emits the prefix
   bricks, a per-chunk splice decision ``(keep_from, seq_base,
   tick_shift)``, and the symbol's final window state. If no candidate
   matches within the spec horizon it simply keeps scanning to the
   chunk end — correct, serial for that chunk only.

3. **Assembly** (declarative): spec bricks join the broadcast decisions
   on (symbol, sub), drop ``local_seq < keep_from``, and shift their
   brick_seq / tick indexes; union with the repair bricks.

Both passes run on the shared Arrow host of ``operators/renko.py``: the
spec pass walks its partition with `symbol_runs` (renko()'s walk) and
scans with `scan_group`, the repair rescans are `kernel.scan` calls
(which pick the loop variant, as everywhere), and summaries, incoming
and outgoing states are carries (its carry protocol) in rows of
``SUB_SCHEMA`` — the host's ``PACKED_SCHEMA`` plus the sub-chunk fields
below.

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

Memory bound (VERDICT r9 item 7): a SPEC task holds the sub-chunks of
its partition — one, O(``subchunk_target``) ticks, while the window's
chunks fit the shuffle partitions — but a REPAIR task receives the hot
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

import numpy as np
import pyarrow as pa
from pyspark.sql import types as T

from renkodf_spark.kernel import new_output, new_state, output_arrays, scan
from renkodf_spark.operators.renko import (
    KIND_BRICK,
    KIND_CARRY,
    PACKED_SCHEMA,
    Carry,
    bricks_table,
    carry_table,
    emit,
    padded_table,
    read_carry,
    scan_group,
    sorted_ticks,
    symbol_runs,
    timed,
)

# sync-candidate horizon: emitting ticks recorded per speculative chunk
# (~34 B each -> <=560 KB per chunk). Convergence normally lands within
# the first handful of emissions; past the horizon the repair pass
# falls back to a full serial scan of that one chunk.
SYNC_CAP = 16384

# row kinds beyond the host's KIND_BRICK / KIND_CARRY
KIND_DECISION = 2
KIND_SUMMARY = 3

_SYNC_COLS = ("__sync_ticks", "__sync_close", "__sync_dir", "__sync_rev", "__sync_cum")
_DECISION_COLS = ("__sub", "__keep_from", "__seq_base", "__tick_shift")

# one shared output schema for both passes: brick rows, summary rows
# (a chunk's final carry; its next_seq is the chunk's brick count),
# decision rows and carry rows null-pad whatever they don't carry
SUB_SCHEMA = T.StructType(
    list(PACKED_SCHEMA.fields)
    + [T.StructField(c, T.LongType()) for c in _DECISION_COLS]
    + [T.StructField(c, T.BinaryType()) for c in _SYNC_COLS]
)


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


_SYNC_DTYPES = (np.int64, np.float64, np.int8, np.int8, np.int64)


def _pack_sync(*sync) -> dict:
    return {
        c: a[:SYNC_CAP].astype(dt).tobytes() for c, a, dt in zip(_SYNC_COLS, sync, _SYNC_DTYPES)
    }


def _unpack_sync(tbl, i: int):
    return tuple(
        np.frombuffer(tbl.column(c)[i].as_py() or b"", dtype=dt)
        for c, dt in zip(_SYNC_COLS, _SYNC_DTYPES)
    )


def make_spec_runner(brick: float, acc_py=None, acc_kernel=None):
    """mapInArrow body of the parallel pass: each (symbol, ``__sub``)
    run of its partition (`symbol_runs`) scans speculatively from a cold
    grid anchor at its first price, and emits its bricks plus a
    KIND_SUMMARY row holding its final carry and its sync blob. Bricks
    number from 0 and index ticks chunk-locally; the repair pass
    renumbers. The body returns its whole output at once, so ``acc_py``
    times the work, not a generator's creation."""
    scan_k = timed(scan_group, acc_kernel)

    def run(batches):
        tables = []
        for sym, sub, times, prices, ts_type in symbol_runs(batches, "__sub"):
            # in exact FP regimes this lattice is bit-identical to the
            # true one, so the repair pass can verify convergence bitwise
            cold = new_state(float(prices[0]), brick)
            bricks, carry = scan_k(times, prices, brick, False, Carry(*cold[:5], 0, 0, 0, None))
            sync = _pack_sync(*_emission_sync(bricks, 0, len(bricks["brick_seq"])))
            tables += [
                bricks_table(SUB_SCHEMA, sym, bricks, ts_type, {"__row_kind": KIND_BRICK, "__sub": sub}),
                carry_table(carry, sym, ts_type, SUB_SCHEMA, {"__row_kind": KIND_SUMMARY, "__sub": sub, **sync}),
            ]
        return iter(pa.concat_tables(tables).to_batches() if tables else [])

    return timed(run, acc_py)


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
    spec summaries plus the incoming carry row.

    ``plans_by_symbol``: {symbol: [boundary micros...]}, the same
    quantile cuts the Spark-side ``__sub`` expression used, so
    ``searchsorted`` on them reproduces the assignment and chunk ``k``'s
    spec summary and splice decision carry ``__sub = k``."""
    plans_plain = {s: np.asarray(b, dtype=np.int64) for s, b in plans_by_symbol.items()}
    scan_k = timed(scan, acc_kernel)

    def run(tick_tbl, side_tbl):
        ts_type = tick_tbl.schema.field("__time").type
        if tick_tbl.num_rows == 0:
            return padded_table(SUB_SCHEMA, ts_type, 0, {})
        sym = tick_tbl.column("symbol")[0].as_py()
        times, prices = sorted_ticks(tick_tbl)
        n = len(prices)
        t_us = times.astype("datetime64[us]").view("int64")
        # chunk spans: [cut[i], cut[i+1]) — identical to the Spark-side
        # size(filter(boundaries <= t)) assignment
        cuts = [0, *np.searchsorted(t_us, plans_plain[sym], side="left").tolist(), n]

        side = side_tbl.combine_chunks()
        summaries = {}
        incoming = None
        for i, kind in enumerate(side.column("__row_kind").to_pylist()):
            if kind == KIND_SUMMARY:
                summaries[side.column("__sub")[i].as_py()] = (read_carry(side, i), _unpack_sync(side, i))
            elif kind == KIND_CARRY:
                incoming = read_carry(side, i)

        # the true state entering each chunk: kernel vector, tick_open global
        if incoming is not None:
            win_offset, running_seq = incoming.tick_offset, incoming.next_seq
            first_ts, cur = incoming.first_ts, list(incoming[:6])
        else:
            win_offset, running_seq, first_ts, cur = 0, 0, None, None

        brick_tables = []
        decisions = []  # one _DECISION_COLS tuple per non-empty chunk

        for sub in range(len(cuts) - 1):
            lo, hi = cuts[sub], cuts[sub + 1]
            if hi <= lo:
                continue
            assert sub in summaries, f"missing spec summary for {sym} sub={sub}"
            summ, (s_ticks, s_close, s_dir, s_rev, s_cum) = summaries[sub]
            shift = win_offset + lo
            # spec scans number from 0 and index ticks chunk-locally, so
            # the summary's next_seq is the chunk's spec brick count
            n_spec = summ.next_seq
            spec_final = [*summ[:5], summ.tick_open + shift]  # -> global

            # ---- repair scan of chunk `sub` from the true state
            ct = times[lo:hi]
            cp = prices[lo:hi]
            if cur is None:
                # the symbol's first non-empty chunk with no incoming
                # carry IS the cold start: same seeding as the one-shot
                # scan; its spec scan stays splice-able via convergence
                kstate, pos0 = new_state(float(cp[0]), brick), 1
            else:
                kstate, pos0 = [*cur[:5], cur[5] - shift], 0
            horizon = int(s_ticks[-1]) if len(s_ticks) else -1

            out = new_output()
            pos, blk = pos0, 1024
            jstar = -1
            keep_from = n_spec  # default: no spec bricks survive
            m = hi - lo
            while pos < m and horizon >= 0:
                stop = min(pos + blk, m)
                n_prev = len(out["close"])
                # sliced views keep tick indexes chunk-local
                scan_k(ct[:stop], cp[:stop], pos, brick, kstate, out)
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
                final_state = spec_final
            else:
                if acc_fallback is not None:
                    acc_fallback.add(1)
                # no convergence possible: finish the chunk with the
                # full-speed exact scan
                if pos < m:
                    scan_k(ct, cp, pos, brick, kstate, out)
                    if acc_repair_ticks is not None:
                        acc_repair_ticks.add(m - pos)
                arrs = output_arrays(out)
                n_true = len(arrs["close"])
                keep_from = n_spec
                final_state = [*kstate[:5], kstate[5] + shift]

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
                bricks = emit(ct, arrs, drop_lo, n_true, running_seq, shift)
                brick_tables.append(
                    bricks_table(SUB_SCHEMA, sym, bricks, ts_type, {"__row_kind": KIND_BRICK})
                )
            running_seq += n_true - drop_lo

            decisions.append((sub, keep_from + drop_spec, running_seq, shift))
            running_seq += n_spec - keep_from - drop_spec
            cur = final_state

        # ---- decisions + final carry
        dcols = {c: np.asarray(v, dtype=np.int64) for c, v in zip(_DECISION_COLS, zip(*decisions))}
        dcols |= {"symbol": sym, "__row_kind": KIND_DECISION}
        carry = Carry(*cur, running_seq, win_offset + n, first_ts)
        return pa.concat_tables([
            *brick_tables,
            padded_table(SUB_SCHEMA, ts_type, len(decisions), dcols),
            carry_table(carry, sym, ts_type, SUB_SCHEMA),
        ])

    return timed(run, acc_py)
