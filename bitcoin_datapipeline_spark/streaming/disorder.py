"""Shared bounded-lateness fold discipline and fold driver for the
event-keyed streaming twins: VPIN (vpin.py), CUSUM (cusum.py) and the
impact.py family — Kyle, Roll, OFI, effective/TWA spread, markout and
the TA block (ACF, variance ratio, RSI, ATR, MACD, stochastic, OBV,
Bollinger, momentum, drawdown, candles, rolling volatility).

A real SBE feed reorders at ms scale.  Every processor that folds trades
into an ORDER-SENSITIVE clock (volume clock, minute buckets, consecutive
Δp pairs) needs the same three rules:

1. events inside the ``allowed_lateness`` window WAIT in a bounded
   pending pool and fold in (event_ts, tiebreak) order once the horizon
   (newest observed ts − lateness) passes them — bounded disorder then
   reproduces the batch twin exactly;
2. events at or behind the FOLDED frontier (the max folded sort key) are
   hard-late: dropped AND counted, never silently folded out of order;
3. with lateness 0 the whole pool folds through the newest event — the
   strictest policy, byte-compatible with an in-order feed.

``merge_fold`` implements all three over opaque event tuples whose first
two fields are the (event_ts, tiebreak) sort key.  ``fold_driver`` wraps
it into an ``applyInPandasWithState`` function and owns the envelope the
twins share: chunk concat, the frontier / ``n_late`` / ``pend_*`` state
fields, the integer-unit conversion of the input columns, the state
repack and the output frame.  A twin declares only its event columns
(``fields`` or an ``Events``), its own state fields' initial values and
its fold/emit ``step``; its ``*_STATE_SCHEMA`` and ``*_OUTPUT_SCHEMA``
stay its own, so a change to one twin's state can never reach another.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import types as T

_NO_FRONTIER = -(1 << 62)


def merge_fold(
    new_events,
    pend: list,
    frontier: tuple[int, int],
    late_ms: int,
):
    """Merge ``new_events`` (iterable of tuples keyed by fields [0:2])
    into the pending pool, drop-and-count hard-late ones, and split off
    the sorted fold list at the lateness horizon.

    Returns ``(fold, pend, frontier, n_late)`` — events to fold now (in
    key order), the remaining pool, the advanced frontier, and how many
    arrivals were behind the old frontier."""
    n_late = 0
    for ev in new_events:
        if (ev[0], ev[1]) <= frontier:
            n_late += 1
        else:
            pend.append(ev)
    if not pend:
        return [], pend, frontier, n_late
    horizon = max(e[0] for e in pend) - late_ms
    pend.sort()
    keep_from = len(pend)
    for i, e in enumerate(pend):
        if e[0] > horizon:
            keep_from = i
            break
    fold, pend = pend[:keep_from], pend[keep_from:]
    if fold:
        frontier = (fold[-1][0], fold[-1][1])
    return fold, pend, frontier, n_late


def to_units(col, scale: int) -> np.ndarray:
    """Decimal column → int64 integer units in one vectorized step.

    ``np.rint`` of the IEEE double product rounds half to even, so every
    element equals the per-row ``int(round(float(x) * scale))``: the
    same float64 conversion (``__float__`` for Decimal/object columns),
    the same multiply, the same rounding."""
    return np.rint(np.asarray(col, dtype="float64") * scale).astype("int64")


class Events(NamedTuple):
    """How a twin turns its input chunk into merge_fold event tuples:
    ``build`` maps the concatenated ``cols`` frame to one array per tuple
    position (the first two the sort key)."""

    cols: tuple[str, ...]
    build: Callable[[pd.DataFrame], list]


def fields(*spec: tuple[str, str | int]) -> Events:
    """Events taking tuple position i from ``spec[i] = (column, conv)``:
    ``conv`` is a numpy dtype name, or an integer scale for ``to_units``."""

    def build(ev: pd.DataFrame) -> list:
        return [
            to_units(ev[c], conv) if isinstance(conv, int)
            else ev[c].to_numpy(conv)
            for c, conv in spec
        ]

    return Events(tuple(dict.fromkeys(c for c, _ in spec)), build)


def fold_driver(
    state_schema: T.StructType,
    output_schema: T.StructType,
    events: Events,
    init: tuple,
    step: Callable,
    late: int,
    nulls: tuple[str, ...] = (),
):
    """The ``applyInPandasWithState`` function of one bounded-lateness
    twin.

    State fields are read and written BY NAME from the twin's own
    ``state_schema``: ``frontier_*`` (one field, or two for an
    (event_ts, tiebreak) key), ``n_late`` and the ``pend_*`` pool
    columns, one per event-tuple position.  A one-field frontier keys
    merge_fold on (k, k): the twin's events repeat the key at position 1
    and the pool stores it once.  Every other field is the twin's own
    state, passed to ``step`` as a tuple in schema order (``init`` when
    the key is new; array fields arrive as fresh lists, safe to mutate).

    ``step(fold, st) -> (rows, st)`` folds the in-order event tuples and
    returns the emitted rows WITHOUT the leading ``symbol`` and the
    trailing ``late_dropped`` output columns — the driver adds both —
    plus the new own-state tuple.  Columns in ``nulls`` are emitted as
    SQL NULL where the step produced None: pandas would coerce None to
    NaN in a float64 column, and NaN survives Arrow as NaN, not null."""
    names = state_schema.fieldNames()
    front = [i for i, n in enumerate(names) if n.startswith("frontier_")]
    pend = [i for i, n in enumerate(names) if n.startswith("pend_")]
    i_late = names.index("n_late")
    own = [i for i in range(len(names)) if i not in {*front, *pend, i_late}]
    arrays = {
        i for i in own
        if isinstance(state_schema.fields[i].dataType, T.ArrayType)
    }
    assert len(front) in (1, 2) and len(init) == len(own), state_schema
    single = len(front) == 1
    # event-tuple position held by each pend_* column (a one-field key's
    # position-1 copy is not stored), and the reverse map for the reload
    stored = [0, *range(2, len(pend) + 1)] if single else list(range(len(pend)))
    reload = [0, 0, *range(1, len(pend))] if single else stored
    out_cols = output_schema.fieldNames()
    assert out_cols[0] == "symbol" and out_cols[-1] == "late_dropped"
    mid_cols = out_cols[1:-1]
    in_cols = list(events.cols)

    def fn(key, pdfs, state):
        chunks = [pdf[in_cols] for pdf in pdfs if len(pdf)]
        if not chunks:
            yield pd.DataFrame([], columns=out_cols)
            return
        ev = pd.concat(chunks, ignore_index=True)
        if state.exists:
            s = state.get
            frontier = tuple(s[i] for i in front)
            pool = list(zip(*(s[pend[j]] for j in reload)))
            n_late = s[i_late]
            st = tuple(list(s[i]) if i in arrays else s[i] for i in own)
        else:
            frontier = (_NO_FRONTIER,) * len(front)
            pool, n_late = [], 0
            st = tuple(
                list(v) if i in arrays else v for i, v in zip(own, init)
            )

        new = zip(*(a.tolist() for a in events.build(ev)))
        fold, pool, frontier, late_inc = merge_fold(
            new, pool, frontier * 2 if single else frontier, late
        )
        n_late += late_inc
        rows, st = step(fold, st)

        packed = [None] * len(names)
        for i, v in zip(front, frontier):
            packed[i] = v
        packed[i_late] = n_late
        for i, p in zip(pend, stored):
            packed[i] = [t[p] for t in pool]
        for i, v in zip(own, st, strict=True):
            packed[i] = v
        state.update(tuple(packed))

        out = pd.DataFrame(rows, columns=mid_cols)
        out.insert(0, "symbol", key[0])
        out["late_dropped"] = n_late
        for c in nulls:
            out[c] = out[c].astype(object).where(pd.notna(out[c]), None)
        yield out

    return fn
