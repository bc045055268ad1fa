"""CDC changelog compaction (Debezium/Delta-MERGE "apply changes" semantics).

The reference's Airflow DAGs land full re-extracts and rebuild downstream
models from scratch (`/root/reference/Airflow/dags/*.py` re-stage whole
quarters; dbt models are full-refresh views/tables).  A production feed of
the same data arrives as a *changelog* — insert/update/delete operations
with a sequence — and the engine-side primitive that turns a changelog into
the current snapshot is MERGE-style compaction:

- per unique key, the operation with the greatest sequence wins
  ("last writer wins");
- a winning delete removes the key from the snapshot;
- a later upsert resurrects a previously deleted key.

Entry points:

- :func:`cdc_apply` — compact a full changelog into the current snapshot.
  ONE shuffle: ``groupBy(key).agg(max(struct(seq…, op, payload)))`` — the
  same min/max-of-struct discipline as the funnel/retention reductions,
  never a per-key rank window, so a hot key (one entity receiving millions
  of updates — the classic CDC skew shape) is reduced map-side by partial
  aggregation instead of being sorted in one un-splittable window
  partition.
- :func:`cdc_state_merge` — fold ONE later batch into existing state (the
  streaming sink's incremental path): sequence-aware and
  TOMBSTONE-BEARING, so a replayed or out-of-order batch can never regress
  state or resurrect a deleted key.  The state side is touched only by a
  key join against the (small, broadcast) batch — only matching keys
  re-compact.
- :func:`cdc_snapshot` — the live view of tombstone-bearing state
  (tombstones filtered, op column dropped).
- :func:`cdc_expire_tombstones` — retention pass that drops tombstones at
  or below a feed-guaranteed sequence horizon, bounding state growth for
  delete-heavy feeds.

Determinism contract: ``seq_cols`` (in order, with the ``op`` column and the
payload as final tie-breaks) must totally order each key's changes — the
caller passes e.g. ``(commit_ts, lsn)``.  Sequence columns must be
non-null; null sequences would sort below every real change on both
engines but signal a broken feed, so :func:`cdc_apply` rejects them with
``validate_seq=True`` (default off — it costs a pass).

The fold == replay property (``cdc_snapshot(cdc_state_merge(cdc_apply(
prefix, keep_op=True), suffix))`` == ``cdc_apply(whole)`` for any split)
is pytest-enforced on randomized changelogs in tests/test_cdc.py.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Struct-field names used internally; hidden from the output schema.
_OP = "__cdc_op"
_PAYLOAD = "__cdc_payload"


def cdc_apply(
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
    keep_op: bool = False,
    validate_seq: bool = False,
) -> DataFrame:
    """Compact a changelog to the current snapshot.

    Output: one row per key whose last operation is not the delete ``D``,
    carrying the key columns, the payload columns (everything that is not
    key/seq/op), and the winning sequence columns. ``keep_op=True`` also
    keeps the winning operation code (useful for audit views that want
    deleted keys too — then ALL keys are returned and the caller filters).
    """
    key_cols = list(key_cols)
    seq_cols = list(seq_cols)
    payload_cols = [
        c for c in changes.columns if c not in set(key_cols) | set(seq_cols) | {"op"}
    ]
    if validate_seq:
        null_seq = changes.where(
            " OR ".join(f"{c} IS NULL" for c in seq_cols)
        ).limit(1)
        if null_seq.count() > 0:
            raise ValueError(f"cdc_apply: null sequence value in {seq_cols}")
    # Lexicographic struct max == "greatest (seq…, op, payload)" — one
    # map-side-combinable aggregate, no rank window (hot-key safe).
    winner = F.max(
        F.struct(
            *[F.col(c) for c in seq_cols],
            F.col("op").alias(_OP),
            F.struct(*[F.col(c) for c in payload_cols]).alias(_PAYLOAD),
        )
    ).alias("__w")
    snap = changes.groupBy(*key_cols).agg(winner)
    out_cols = (
        [F.col(c) for c in key_cols]
        + [F.col(f"__w.{c}").alias(c) for c in seq_cols]
        + [F.col(f"__w.{_PAYLOAD}.{c}").alias(c) for c in payload_cols]
    )
    if keep_op:
        return snap.select(*out_cols, F.col(f"__w.{_OP}").alias("op"))
    return snap.where(F.col(f"__w.{_OP}") != F.lit("D")).select(*out_cols)


def cdc_state_merge(
    state: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    seq_cols: Sequence[str],
) -> DataFrame:
    """Sequence-AWARE merge over TOMBSTONE-BEARING state: winners are
    chosen by comparing sequences, so an out-of-order or replayed batch
    can never regress the state — the property a streaming sink needs,
    where micro-batch boundaries don't respect event order.

    ``state`` is ``cdc_apply(..., keep_op=True)`` output: one row per key
    INCLUDING deleted keys, carrying the winning sequence and operation.
    The tombstones are load-bearing — without them, a delete at sequence
    100 followed (in a later batch) by a stale upsert at sequence 90
    would resurrect the key, because nothing remembers the delete
    happened.  Filter ``op != 'D'`` for the live snapshot
    (:func:`cdc_snapshot`).  Tombstones accumulate per deleted key; real
    feeds expire them once the source can no longer emit sequences below
    a horizon (retention policy, out of scope here).

    Work is batch-sized: untouched state keys pass through via one
    broadcast LEFT ANTI; only touched keys re-compact.
    """
    compacted = cdc_apply(changes, key_cols, seq_cols, keep_op=True)
    touched = F.broadcast(compacted.select(*key_cols).distinct())
    untouched = state.join(touched, on=list(key_cols), how="left_anti")
    touched_state = state.join(touched, on=list(key_cols), how="left_semi")
    rematch = cdc_apply(
        touched_state.unionByName(compacted),
        key_cols,
        seq_cols,
        keep_op=True,
    ).select(*state.columns)
    return untouched.unionByName(rematch)


def cdc_snapshot(state: DataFrame) -> DataFrame:
    """The live view of tombstone-bearing CDC state: deleted keys
    filtered out, the operation column dropped."""
    return state.where(F.col("op") != F.lit("D")).drop("op")


def cdc_expire_tombstones(
    state: DataFrame,
    seq_col: str,
    horizon,
) -> DataFrame:
    """Drop tombstones whose winning sequence is at or below ``horizon``
    — the retention pass that bounds state growth once the FEED
    guarantees it can no longer emit sequences ≤ horizon (Kafka
    retention, a CDC low-watermark, a closed billing period).

    Correctness contract: expiry is safe ONLY under that guarantee — a
    straggler below the horizon arriving after expiry would resurrect
    its key exactly as §21 describes (``cdc_state_merge`` keeps being
    correct for everything above the horizon). Live rows are never
    touched; one partition-local filter, no shuffle."""
    return state.where(
        (F.col("op") != F.lit("D")) | (F.col(seq_col) > F.lit(horizon))
    )

