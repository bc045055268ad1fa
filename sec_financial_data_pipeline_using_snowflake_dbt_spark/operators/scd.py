"""Slowly-changing-dimension Type-2 snapshots (dbt `snapshot` semantics).

The reference scaffolds dbt snapshot directories in both projects
(`/root/reference/Airflow/masterfindata/snapshots/.gitkeep`,
`/root/reference/Airflow/json_transform/snapshots/.gitkeep`) but ships no
snapshot models; this module supplies the engine-side operator the scaffold
implies, with dbt's documented semantics:

- **check strategy**: a row is a "new version" of its unique key whenever any
  tracked column differs from the key's previous observed state;
- the history table carries ``valid_from`` / ``valid_to`` (NULL = current) and
  a deterministic ``scd_id`` (dbt's ``dbt_scd_id`` is md5 of key||updated_at;
  ours is the F5 ``surrogate_key`` over key fields + valid_from — the same
  construction and the same dbt_utils null sentinel).

The entry point, :func:`scd2_from_changelog`, replays a full changelog
(many observations per key, totally ordered within the key) into the SCD2
history in one batch — dbt's snapshot rebuilt from scratch.

Scale: one shuffle on the snapshot key and only key-local windows
(lag/lead within a key's own observations — skew-bounded by the per-key
version count, never by corpus size). No global sort, no driver state, no
Python UDFs.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scalar import surrogate_key


def _state_differs(left_prefix: str, cols: Sequence[str]) -> Column:
    """True when any tracked column differs null-safely from its
    ``left_prefix``-ed twin (dbt check-strategy change test)."""
    cond = F.lit(False)
    for c in cols:
        cond = cond | ~F.col(c).eqNullSafe(F.col(f"{left_prefix}{c}"))
    return cond


def _scd_id(key_cols: Sequence[str], valid_from: Column) -> Column:
    """Deterministic version id: the F5 dbt_utils surrogate key over the
    key fields + the version start (dbt_scd_id's construction)."""
    return surrogate_key(*[F.col(c) for c in key_cols], valid_from)


def scd2_from_changelog(
    changelog: DataFrame,
    key_cols: Sequence[str],
    order_cols: Sequence[str],
    state_cols: Sequence[str],
) -> DataFrame:
    """Collapse a changelog into SCD Type-2 history with dbt's ``check``
    strategy: a new version starts on any null-safe change in
    ``state_cols``.

    ``changelog`` holds one row per OBSERVATION of a key's state;
    ``order_cols`` must totally order observations within a key (ties would
    make "previous state" ambiguous — the caller supplies a tiebreaker
    column, exactly as dbt requires a reliable ``updated_at``). Consecutive
    observations with identical ``state_cols`` collapse into one version row.

    Returns key_cols + state_cols +
    (valid_from, valid_to, is_current, n_observations, scd_id), where
    valid_from/valid_to are the FIRST ``order_cols[0]`` value of this
    version / of the next version (NULL while current) — dbt's half-open
    [valid_from, valid_to) convention.

    Plan shape: ONE Exchange on ``key_cols`` serves the whole build — every
    window below partitions by the key (the change-flag lag, the per-key
    position/row-count, and the post-filter lead all reuse the same
    partitioning, so Catalyst plans one shuffle + one sort). Version rows
    are the FILTERED change rows (valid_from is the change row's own order
    value — no groupBy materializes the islands), and observation counts
    come from row-position differences. Per-key windows only — a
    million-version key is one fat partition, never a global sort.
    """
    if not key_cols or not order_cols or not state_cols:
        raise ValueError("key_cols, order_cols and state_cols must be non-empty")
    overlap = set(state_cols) & set(key_cols)
    if overlap:
        raise ValueError(f"state_cols overlap key_cols: {sorted(overlap)}")

    w = Window.partitionBy(*key_cols).orderBy(*order_cols)
    wk = Window.partitionBy(*key_cols)
    lagged = changelog.select(*key_cols, *order_cols, *state_cols).select(
        "*",
        *[F.lag(c).over(w).alias(f"__prev_{c}") for c in state_cols],
        F.lag(order_cols[0]).over(w).alias("__prev_ord"),
        F.row_number().over(w).alias("__pos"),
        F.count(F.lit(1)).over(wk).alias("__key_n"),
    )
    # Version starts: the first observation (prev order NULL) or any
    # null-safe state change. Each start row IS its version — its own
    # order value is valid_from and its state is the version state — so
    # the non-start rows simply drop (no island groupBy).
    starts = lagged.filter(
        F.col("__prev_ord").isNull() | _state_differs("__prev_", state_cols)
    )
    # Order the version window by __pos — the row_number assigned in the
    # SAME Window node as the change-flag lags — never by order_cols:
    # fully-duplicate rows tie on order_cols, and a later sort that
    # re-permutes a tie block relative to where the lags were computed
    # would glue a changed state onto the previous version (two starts
    # can't tie on order_cols here, but __pos makes the order total by
    # construction instead of by argument; the oracle threads the same
    # rn for the same reason).
    wv = Window.partitionBy(*key_cols).orderBy("__pos")
    next_pos = F.lead("__pos").over(wv)
    out = starts.select(
        *key_cols,
        *state_cols,
        F.col(order_cols[0]).alias("valid_from"),
        F.lead(order_cols[0]).over(wv).alias("valid_to"),
        F.lead("__pos").over(wv).isNull().alias("is_current"),
        (F.coalesce(next_pos, F.col("__key_n") + 1) - F.col("__pos"))
        .cast("long")
        .alias("n_observations"),
    ).withColumn("scd_id", _scd_id(key_cols, F.col("valid_from")))
    return out.select(
        *key_cols,
        *state_cols,
        "valid_from",
        "valid_to",
        "is_current",
        "n_observations",
        "scd_id",
    )

