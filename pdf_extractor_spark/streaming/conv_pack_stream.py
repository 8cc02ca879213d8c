"""Stateful streaming context-window packing: the streaming twin of
``operators.packing.q_conv_window_pack``.

``applyInPandasWithState`` keeps one GroupState per conversation holding the
(turn_idx, n_tokens) pairs seen so far — integers only, never text, so per-
conversation state is a few bytes per turn (unlike the assembly operator,
which must hold raw turn text). Each micro-batch merges its new turns and
emits a REFRESHED full packing snapshot for the conversation (update mode).
READ RULE: per conversation, take the snapshot with the MAX ``snap_n_turns``
— NOT merely the latest. The two differ only after timeout eviction: a turn
arriving after its conversation's state was evicted rebuilds from empty and
emits a snapshot covering only the post-eviction turns; ``snap_n_turns``
makes that partial snapshot visibly smaller so readers prefer the complete
one (tests/test_streaming_conv_pack.py reads exactly this way). A corpus
where post-eviction stragglers are expected belongs on the batch path
(``q_conv_window_pack``), as with stateful assembly. Re-packing from the
sorted pair list on every update is what makes out-of-order arrival exact:
the greedy fill is order-sensitive and non-associative, so a late turn can
shift every later placement — an incremental (win, fill) cursor would be
wrong the moment one turn arrives late.

Quiescent conversations are evicted by processing-time timeout (the last
emitted snapshot already stands); a conversation longer than the state
budget belongs on the batch path, as with stateful assembly.

The emitted placements follow the batch operator exactly: a turn that would
overflow the current window opens the next; oversize turns are capped to a
full window with a truncation flag. tests/test_streaming_conv_pack.py pins
the final snapshots value-identical to the batch ``q_conv_window_pack``.
"""
from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.packing import CONV_WINDOW

PACK_ROW_SCHEMA = (
    "conv long, turn_idx int, n_tokens long, truncated boolean,"
    " win_id long, win_offset long, snap_n_turns int"
)
STATE_SCHEMA = "turn_idxs array<int>, toks array<bigint>"

QUIESCENT_EVICT_MS = 5 * 60 * 1000


def greedy_pack(pairs):
    """The batch operator's greedy fill as a pure function over sorted
    (turn_idx, n_tokens) pairs -> [(turn_idx, n_eff, truncated, win, off)].
    Semantics identical to packing.q_conv_window_pack's expression fold."""
    out = []
    win, fill = 0, 0
    for idx, t in sorted(pairs):
        eff = min(int(t), CONV_WINDOW)
        trunc = int(t) > CONV_WINDOW
        if fill + eff <= CONV_WINDOW:
            out.append((idx, eff, trunc, win, fill))
            fill += eff
        else:
            win += 1
            out.append((idx, eff, trunc, win, 0))
            fill = eff
    return out


def pack_fn(
    key: Tuple[int],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return

    if state.exists:
        idxs, toks = state.get
        idxs, toks = list(idxs), list(toks)
    else:
        idxs, toks = [], []
    seen = dict(zip(idxs, toks))
    for pdf in batches:
        for idx, t in zip(pdf["turn_idx"], pdf["n_tokens"]):
            seen[int(idx)] = int(t)  # replays overwrite idempotently
    idxs = sorted(seen)
    toks = [seen[i] for i in idxs]
    state.update((idxs, toks))
    state.setTimeoutDuration(QUIESCENT_EVICT_MS)

    placements = greedy_pack(zip(idxs, toks))
    conv = int(key[0])
    yield pd.DataFrame(
        [
            (conv, idx, eff, trunc, win, off, len(idxs))
            for idx, eff, trunc, win, off in placements
        ],
        columns=[
            "conv", "turn_idx", "n_tokens", "truncated", "win_id",
            "win_offset", "snap_n_turns",
        ],
    )


def conv_pack_stream(turns: DataFrame) -> DataFrame:
    """turns: a STREAMING frame with (conv long, turn_idx int,
    n_tokens long). Returns the update-mode snapshot stream."""
    return (
        turns.groupBy(F.col("conv"))
        .applyInPandasWithState(
            pack_fn,
            outputStructType=PACK_ROW_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
