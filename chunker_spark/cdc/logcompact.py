"""Upstream change-log compaction (Kafka compacted-topic semantics).

At 10^10 events the raw binlog/WAL archive itself becomes the cost
center: every fresh consumer (a new downstream table, a disaster-
recovery rebuild, a dev environment) must replay the WHOLE history even
though only the latest event per key matters for final state. Log
compaction bounds that: rewrite the archived log keeping exactly the
last event per ``(repo, path)``, and age out delete tombstones that
every live consumer has already seen. This mirrors Kafka's log-cleaner
contract (retain latest value per key; tombstones kept for
``delete.retention.ms`` so lagging consumers still observe deletes) —
re-expressed as one declarative Spark aggregation rather than a
per-segment cleaner thread.

Replay invariant (the test contract): applying the compacted log
through the engine yields the exact same final table state as applying
the full log — compaction is a pure replay-cost optimization, never a
semantic change. Dropping a tombstone older than the horizon preserves
this for any from-scratch replay (the key simply never appears), and is
safe for incremental consumers exactly when they have consumed past the
horizon — the same contract Kafka's ``delete.retention.ms`` states.

Scale shape: one shuffle, of AT MOST one event per key per upstream map
partition — ``max_by(struct(*), seq)`` plans as partial→final hash
aggregation, so the map-side combine collapses each key's history
before anything crosses the wire. A log with deep per-key histories
(the compaction win case) shuffles a tiny fraction of its bytes. No
driver-side state, no broadcast: full-log key cardinality is unbounded
by design, so the always-safe shuffle path is the only correct default
(merge.apply_batch reduces each micro-batch with the same aggregate,
lake.resolve_state).

Reference parity: the reference repo has no log layer (it chunks one
buffer); this module is engine-side infrastructure the north rule's
binlog-tail deployment needs, same family as cdc/merge.py stage 3.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, functions as F

from .schema import KEY_COLS


def compact_log(
    events: DataFrame,
    tombstone_horizon: int | None = None,
    key_cols: Sequence[str] = KEY_COLS,
    seq_col: str = "seq",
    op_col: str = "op",
    delete_op: str = "D",
) -> DataFrame:
    """Compact a change-event log to its latest event per key.

    Parameters
    ----------
    events:
        Any event-shaped frame; all columns are preserved verbatim on
        the surviving rows (schema-evolution columns ride along
        untouched — compaction is resolution-agnostic).
    tombstone_horizon:
        If set, delete tombstones that LOST or WON with
        ``seq < tombstone_horizon`` are dropped entirely: a from-scratch
        replay of the compacted log produces the identical final state,
        and incremental consumers are covered provided they have
        consumed past the horizon (pick it as ``min`` over consumer
        checkpoints, exactly like Kafka's ``delete.retention.ms``
        guarantee). ``None`` keeps every winning tombstone forever —
        the unconditionally safe default.
    delete_op:
        Op code marking deletes. The engine's typed schema uses
        ``'D'`` (schema.py); wire dialects that kept lowercase op codes
        pass their own.

    Requires ``seq`` unique per key (a binlog/WAL offset is, by
    construction). Returns one row per surviving key.
    """
    missing = [c for c in [*key_cols, seq_col, op_col] if c not in events.columns]
    if missing:
        raise ValueError(f"compact_log: events missing columns {missing}")
    payload = F.struct(*[F.col(c) for c in events.columns])
    latest = (
        events.groupBy(*[F.col(c) for c in key_cols])
        .agg(F.max_by(payload, F.col(seq_col)).alias("e"))
        .select("e.*")
    )
    if tombstone_horizon is not None:
        keep = ~((F.col(op_col) == delete_op) & (F.col(seq_col) < F.lit(tombstone_horizon)))
        latest = latest.where(keep)
    return latest


def compaction_stats(
    events: DataFrame,
    compacted: DataFrame,
) -> dict:
    """Observability for a compaction run: how much replay cost the
    rewrite removed. Two count jobs (key-width scans after column
    pruning); call on demand, not in the hot path."""
    n_in = events.count()
    n_out = compacted.count()
    return {
        "events_in": n_in,
        "events_out": n_out,
        "events_dropped": n_in - n_out,
        "reduction": round(1.0 - (n_out / n_in), 4) if n_in else 0.0,
    }
