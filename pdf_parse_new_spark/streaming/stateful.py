"""Custom stateful streaming operator: incremental per-conversation progress
tracking with ``applyInPandasWithState``.

As transcript turns stream in, each conversation's state accumulates
(turn/error counts, max turn_idx, an order-independent rolling content hash)
and an updated row is emitted per micro-batch — the streaming analog of the
reference's progress callback (``onChunkComplete``,
lib/pdf-parse-stream.js:110-118), but with durable, exactly-once state in
the streaming checkpoint instead of an in-process closure.

The rolling hash is XOR of md5(conv_id:turn_idx:text) per turn: commutative
and idempotent-friendly, so it is independent of arrival order and can be
audited offline against a batch computation (tested).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "conv_id string, n_turns long, n_errors long, max_turn int, "
    "content_hash string"
)
STATE_SCHEMA = "n_turns long, n_errors long, max_turn int, hash_hex string"


def turn_digest(conv_id: str, turn_idx: int, text: str) -> int:
    return int.from_bytes(
        hashlib.md5(f"{conv_id}:{turn_idx}:{text}".encode()).digest()[:16],
        "big",
    )


def _make_accumulate(idle_timeout_ms: int | None):
    def _accumulate(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        (conv_id,) = key
        if state.hasTimedOut:
            # idle-eviction branch: emit a final tombstone row, drop the
            # state, and do NOT re-arm the timer (re-arming would keep idle
            # state alive forever and emit a duplicate row every interval)
            n_turns, n_errors, max_turn, hash_hex = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "conv_id": [conv_id],
                    "n_turns": [n_turns],
                    "n_errors": [n_errors],
                    "max_turn": [max_turn],
                    "content_hash": [hash_hex],
                }
            )
            return
        if state.exists:
            n_turns, n_errors, max_turn, hash_hex = state.get
            acc = int(hash_hex, 16)
        else:
            n_turns = n_errors = 0
            max_turn = -1
            acc = 0
        for pdf in pdfs:
            n_turns += len(pdf)
            n_errors += int(pdf["error"].notna().sum())
            if len(pdf):
                max_turn = max(max_turn, int(pdf["turn_idx"].max()))
            for t, txt in zip(pdf["turn_idx"], pdf["extracted_text"]):
                acc ^= turn_digest(conv_id, int(t), txt or "")
        state.update((n_turns, n_errors, max_turn, f"{acc:032x}"))
        if idle_timeout_ms:
            state.setTimeoutDuration(idle_timeout_ms)
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "n_turns": [n_turns],
                "n_errors": [n_errors],
                "max_turn": [max_turn],
                "content_hash": [f"{acc:032x}"],
            }
        )

    return _accumulate


def conversation_progress_stream(
    extracted_stream: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """extracted turn stream -> per-conversation accumulated progress rows
    (update mode), state kept in the streaming checkpoint.

    ``idle_timeout_ms``: expire idle conversations' state. Off by default —
    with a processing-time timeout the engine schedules no-data micro-batches
    forever to evaluate timeouts, so ``processAllAvailable`` never settles
    (fine for production 24/7 streams; wrong for drain-and-stop jobs). Note
    also: pyspark 4.1.2's availableNow trigger NPEs with
    applyInPandasWithState — use the default processing-time trigger.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if idle_timeout_ms
        else GroupStateTimeout.NoTimeout
    )
    return (
        extracted_stream.select(
            "conv_id", "turn_idx", "extracted_text", "error"
        )
        .groupBy("conv_id")
        .applyInPandasWithState(
            _make_accumulate(idle_timeout_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def batch_progress(extracted: DataFrame) -> DataFrame:
    """Batch reference for the stateful counters (audit path; the rolling
    hash is audited offline via ``turn_digest`` in the tests)."""
    from pyspark.sql import functions as F

    return extracted.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.count("error").alias("n_errors"),
        F.max("turn_idx").alias("max_turn"),
    )
