"""Custom stateful streaming operator: incremental per-conversation assembly.

``applyInPandasWithState`` keeps one GroupState per ``conv_id`` holding every
turn seen so far; each micro-batch merges its new turns into the state and
emits a refreshed assembly snapshot (latest snapshot per conv = the final
assembly). This is the streaming twin of
``plans.pipeline.assemble_conversations`` — same combine kernel, so a
conversation fully seen produces byte-identical markdown.

State growth is bounded two ways:
- ACROSS conversations: quiescent convs are evicted via a processing-time
  timeout (no turns for QUIESCENT_EVICT_MS -> state removed; the last
  update-mode snapshot already emitted IS the final assembly), so total state
  tracks only *active* conversations, not the whole corpus.
- WITHIN a conversation: state holds the raw turn texts because turns arrive
  out of order and markdown assembly is order-sensitive — a running-concat
  digest would be wrong for late turns. Per-conv state is therefore O(conv
  length); a 10^6-turn conversation belongs on the batch path
  (assemble_conversations), not in streaming state. This limitation is inherent to exact out-of-order assembly.

The reference has no streaming analog (SURVEY.md §2.10); this exists for the
north rule's Structured Streaming surface: stateless map (micro_batch.py),
watermarked windowed aggregate (micro_batch.py), and this custom stateful
fold.
"""
from __future__ import annotations

from typing import Iterable, Iterator, Tuple

import pandas as pd
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..kernels.segment import combine_markdown_sections

SNAPSHOT_SCHEMA = (
    "conv_id string, n_turns int, conversation_markdown string"
)
STATE_SCHEMA = "turn_idxs array<int>, texts array<string>"

# Evict a conversation's state after this long with no new turns. The final
# snapshot was already emitted on its last update, so eviction loses nothing.
QUIESCENT_EVICT_MS = 5 * 60 * 1000


def assemble_fn(
    key: Tuple[str],
    batches: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Merge this micro-batch's turns into per-conversation state and emit a
    snapshot. Turns may arrive out of order and across batches; assembly
    always re-sorts by turn_idx (stable-ordering invariant). On processing-
    time timeout the conversation is quiescent: drop its state (the latest
    emitted snapshot stands as the final assembly)."""
    if state.hasTimedOut:
        state.remove()
        return

    if state.exists:
        turn_idxs, texts = state.get
        turn_idxs, texts = list(turn_idxs), list(texts)
    else:
        turn_idxs, texts = [], []

    for pdf in batches:
        turn_idxs.extend(int(i) for i in pdf["turn_idx"])
        texts.extend(str(t) for t in pdf["extracted_text"])

    state.update((turn_idxs, texts))
    state.setTimeoutDuration(QUIESCENT_EVICT_MS)
    ordered = [t for _, t in sorted(zip(turn_idxs, texts), key=lambda p: p[0])]
    yield pd.DataFrame([{
        "conv_id": key[0],
        "n_turns": len(ordered),
        "conversation_markdown": combine_markdown_sections(ordered),
    }])


def assemble_stream(extracted_stream):
    """extracted stream (conv_id, turn_idx, extracted_text, ...) -> update-
    mode snapshots, one refreshed assembly row per conversation per batch."""
    return (
        extracted_stream.select("conv_id", "turn_idx", "extracted_text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            assemble_fn,
            outputStructType=SNAPSHOT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )
