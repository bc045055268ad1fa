"""Incremental filter and Structured Streaming operators.

The reference's only incremental construct is the high-watermark macro
(reference: Airflow/json_transform/macros/incremental_filter.sql:1-5,
``WHERE col >= (SELECT MAX(col) FROM {{ this }})``);
``incremental_filter`` is its batch translation (a scalar subquery
against the existing target).

The streaming operators are ``stream_interval_join`` (a watermarked
stream-stream interval join) and ``stream_cdc_sink`` (a foreachBatch
CDC apply into versioned parquet, read back by ``read_cdc_snapshot``).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def incremental_filter(
    new_data: DataFrame, col: str, existing: DataFrame | None
) -> DataFrame:
    """reference incremental_filter.sql: keep rows with col >= MAX(col)
    over the existing target; all rows when the target is ABSENT
    (existing=None — dbt's first-run behavior). An existing-but-EMPTY
    target yields MAX(col)=NULL and ``col >= NULL`` keeps nothing —
    deliberately matching what the reference macro's SQL does on an
    empty table, not intuition."""
    if existing is None:
        return new_data
    wm = existing.agg(F.max(col).alias("__wm"))
    return (
        new_data.join(F.broadcast(wm))
        .filter(F.col(col) >= F.col("__wm"))
        .drop("__wm")
    )


# --- Structured Streaming ---------------------------------------------------


def stream_interval_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Stream-stream interval join: for each ``left`` event, every
    ``right`` event from the same user within 2 hours before it
    (click-to-purchase attribution). Both sides carry a watermark and
    the join condition bounds event time on both sides, so Spark can
    age out buffered state — without the time bound a stream-stream
    join's state grows forever (the canonical pitfall).

    Scale: state per key is bounded by the 3-hour watermark + the
    2-hour lookback; the join shuffles both streams by ``user_id`` once. Works
    identically on batch DataFrames (the oracle path) because the
    interval condition is ordinary Column algebra.
    """
    lhs = left.withWatermark("ts", "3 hours").alias("l")
    rhs = right.withWatermark("ts", "3 hours").alias("r")
    lts, rts = F.col("l.ts"), F.col("r.ts")
    cond = (
        (F.col("l.user_id") == F.col("r.user_id"))
        & (rts >= lts - F.expr("INTERVAL 2 hours"))
        & (rts <= lts)
    )
    return lhs.join(rhs, cond, "inner").select(
        F.col("l.user_id").alias("user_id"),
        F.col("l.event_id").alias("left_id"),
        F.col("r.event_id").alias("right_id"),
        (F.unix_micros(lts) - F.unix_micros(rts)).cast("long").alias("lag_us"),
    )


def stream_cdc_sink(
    stream: DataFrame,
    target_path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    seq_cols: list[str],
    expire_horizon=None,
) -> None:
    """Streaming CDC apply: maintain a last-writer-wins snapshot of a
    change stream as versioned parquet (the foreachBatch MERGE-INTO
    emulation; with Delta/Iceberg the body becomes one MERGE).

    Each micro-batch is compacted with ``cdc_apply`` and folded into the
    current state with ``cdc_state_merge`` — the sequence-AWARE,
    TOMBSTONE-BEARING merge, so micro-batch boundaries need not respect
    event order (a replayed or out-of-order batch can never regress the
    state, and a stale upsert arriving after a delete cannot resurrect
    the key; batch-split invariance is pytest-enforced). The stored
    versions keep delete tombstones; :func:`read_cdc_snapshot` serves the
    live view. State versions are written to ``{target_path}/v=<batch_id>/``
    and committed by replacing the single-file ``_LATEST`` marker via
    Hadoop ``create`` + ``rename``. Commit is crash-safe end to end: a
    crash before the version's ``_SUCCESS`` leaves the old marker live; a
    crash inside the marker swap leaves at worst NO marker, and recovery
    (:func:`_read_cdc_state`) then adopts the newest ``v=*`` directory
    that has a ``_SUCCESS`` — which is exactly the fully-written new
    state. A foreachBatch redelivery of an ALREADY-COMMITTED batch
    (state version == batch id) is detected and skipped — the committed
    state already folds it (the seq-aware merge is idempotent), and a
    rewrite would read from the directory it overwrites, which Spark
    refuses; only the marker is re-published. A state version AHEAD of
    the delivered batch id is a checkpoint/target mismatch (a
    deleted/recreated checkpoint restarts batch ids at 0) and raises
    rather than silently discarding the new run's first batches
    (ADVICE r10). Old versions are retained for
    time travel; expire them with a storage lifecycle rule (at 100 TB
    this layout is exactly the poor-man's Iceberg — the state rewrite per
    batch is the price of plain parquet, and the reason the real thing
    uses manifest-level row rewrites).

    ``expire_horizon`` bounds tombstone retention for delete-heavy feeds
    (without it, deleted keys accumulate forever): a static sequence
    value, or a callable ``(batch_df, batch_id) -> horizon | None``
    evaluated per batch (e.g. "max seq seen minus the feed's replay
    lag"). Each state rewrite then applies
    :func:`~..operators.cdc.cdc_expire_tombstones` on ``seq_cols[0]`` —
    safe iff the feed can no longer emit sequences ≤ horizon (see that
    function's contract).
    """
    from ..operators.cdc import cdc_apply, cdc_expire_tombstones, cdc_state_merge

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state, state_version = _read_cdc_state_versioned(spark, target_path)
        if state_version is not None and state_version == batch_id:
            # foreachBatch REDELIVERY after a crash in the commit window
            # (marker already at v=<batch_id>, or the no-marker recovery
            # adopted it): the committed state already folds this batch —
            # the seq-aware merge is idempotent, so a rewrite would
            # produce the same bytes while reading the very directory it
            # overwrites (Spark refuses: "Cannot overwrite a path that is
            # also being read from"). Re-publish the marker (a no-op when
            # it survived, the missing half of the swap when it didn't)
            # and let the checkpoint commit complete.
            _commit_cdc_marker(spark, target_path, state_version)
            return
        if state_version is not None and state_version > batch_id:
            # NOT redelivery: foreachBatch only ever redelivers the last
            # uncommitted batch, so the committed state can be at most one
            # version ahead. A version ahead by more means the CHECKPOINT
            # does not belong to this TARGET (deleted/recreated checkpoint
            # restarts ids at 0 against a target at v=N) — silently
            # skipping would discard the first state_version+1 batches of
            # the new run (ADVICE r10, medium). Fail loudly instead.
            raise RuntimeError(
                f"stream_cdc_sink: checkpoint/target mismatch — target "
                f"{target_path!r} is committed at v={state_version} but the "
                f"stream delivered batch {batch_id}. This happens when the "
                f"checkpoint was deleted/recreated against an existing "
                f"target. Resume with the original checkpoint, or point the "
                f"new stream at a fresh target (copy the current state "
                f"forward if it should seed the new run)."
            )
        if state is None:
            merged = cdc_apply(batch_df, key_cols, seq_cols, keep_op=True)
        else:
            merged = cdc_state_merge(state, batch_df, key_cols, seq_cols)
        if expire_horizon is not None:
            horizon = (
                expire_horizon(batch_df, batch_id)
                if callable(expire_horizon)
                else expire_horizon
            )
            if horizon is not None:
                merged = cdc_expire_tombstones(merged, seq_cols[0], horizon)
        vdir = f"{target_path}/v={batch_id}"
        merged.write.mode("overwrite").parquet(vdir)
        _commit_cdc_marker(spark, target_path, batch_id)

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def _commit_cdc_marker(spark: SparkSession, target_path: str, batch_id: int) -> None:
    """Atomically publish ``v=<batch_id>`` as the committed CDC state.

    The marker is ONE file (``_LATEST``), not a Spark JSON directory —
    a directory rewritten with ``mode('overwrite')`` deletes the old
    marker before the new part file lands, so a crash mid-commit would
    silently reset the sink to "first batch" (total state loss). Here
    the new marker is staged to a temp path and swapped in with Hadoop
    ``rename``; the only crash window is between ``delete`` and
    ``rename`` (Hadoop rename won't clobber), which leaves NO marker —
    and marker absence recovers via the newest ``_SUCCESS``-bearing
    ``v=*`` directory, never by forgetting state."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(target_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    tmp = jvm.org.apache.hadoop.fs.Path(f"{target_path}/_LATEST.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(json.dumps({"v": str(batch_id)}).encode("utf-8")))
    finally:
        out.close()
    marker = jvm.org.apache.hadoop.fs.Path(f"{target_path}/_LATEST")
    if fs.exists(marker):
        fs.delete(marker, True)
    if not fs.rename(tmp, marker):
        raise IOError(f"CDC commit failed: rename {tmp} -> {marker}")


def _read_small_file(fs, path) -> str:
    """Whole contents of one small Hadoop file as UTF-8 text."""
    stream = fs.open(path)
    try:
        chunks = []
        while True:
            b = stream.read()
            if b < 0:
                break
            chunks.append(b)
        return bytes(chunks).decode("utf-8")
    finally:
        stream.close()


def _read_cdc_state(spark: SparkSession, target_path: str) -> DataFrame | None:
    """:func:`_read_cdc_state_versioned` without the version."""
    return _read_cdc_state_versioned(spark, target_path)[0]


def _read_cdc_state_versioned(
    spark: SparkSession, target_path: str
) -> tuple[DataFrame | None, int | None]:
    """The committed tombstone-bearing state under ``stream_cdc_sink``'s
    layout as ``(state, version)``, or ``(None, None)`` before the first
    commit. The version lets the sink detect a foreachBatch REDELIVERY
    of an already-committed batch (state version ≥ batch id) and skip
    the rewrite instead of overwriting the directory it is reading.

    Failure discipline: only GENUINE ABSENCE returns None / triggers
    recovery. A marker that exists but cannot be read, or a committed
    ``v=<id>`` state that cannot be loaded, PROPAGATES — a transient FS
    hiccup or corrupt footer must fail the job loudly, not be mistaken
    for "first batch" and silently reset the snapshot. When the marker
    is absent but ``v=*`` versions exist (the crash window inside
    :func:`_commit_cdc_marker`), the newest version with a ``_SUCCESS``
    is adopted: parquet commits ``_SUCCESS`` last, so that directory is
    complete, and the largest batch id is by construction the state the
    lost marker was about to publish (states are cumulative — each
    ``v=N`` folds every batch ≤ N)."""
    jvm = spark._jvm
    root = jvm.org.apache.hadoop.fs.Path(target_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    marker = jvm.org.apache.hadoop.fs.Path(f"{target_path}/_LATEST")
    if fs.exists(marker):
        # Read the marker through the Hadoop FS, not spark.read.json: a
        # FILE named `_LATEST` is invisible to Spark's hidden-file
        # filter (leading underscore). Handles both the single-file
        # layout (current) and the JSON-directory layout (legacy sinks
        # written before the atomic-commit fix). Read errors propagate.
        if fs.getFileStatus(marker).isDirectory():
            texts = [
                _read_small_file(fs, s.getPath())
                for s in fs.listStatus(marker)
                if s.getPath().getName().startswith("part-")
            ]
            text = next(t for t in texts if t.strip())
        else:
            text = _read_small_file(fs, marker)
        v = json.loads(text)["v"]
        return spark.read.parquet(f"{target_path}/v={v}"), int(v)
    if not fs.exists(root):
        return None, None  # sink never ran
    committed = []
    for status in fs.listStatus(root):
        name = status.getPath().getName()
        if (
            status.isDirectory()
            and name.startswith("v=")
            and name[2:].isdigit()
            and fs.exists(jvm.org.apache.hadoop.fs.Path(f"{target_path}/{name}/_SUCCESS"))
        ):
            committed.append(int(name[2:]))
    if not committed:
        return None, None  # first batch: directory exists but nothing committed
    newest = max(committed)
    return spark.read.parquet(f"{target_path}/v={newest}"), newest


def read_cdc_snapshot(spark: SparkSession, target_path: str) -> DataFrame | None:
    """The live snapshot (tombstones filtered) under ``stream_cdc_sink``'s
    layout, or None before the first commit."""
    from ..operators.cdc import cdc_snapshot

    state = _read_cdc_state(spark, target_path)
    if state is None:
        return None
    return cdc_snapshot(state)
