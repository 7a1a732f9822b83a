"""foreachBatch is AT-LEAST-ONCE: a failed micro-batch re-runs with the
SAME batch_id. Non-idempotent folds (CMS cell sums, mart count/sum states)
would silently double that batch's contribution. These tests drive the
module-level fold functions directly — once, replayed, then advanced — and
assert the replay is a no-op while genuinely new batches still land."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.incremental import present
from etl_pipeline_last_fm_spark.operators.sketch import cms_counters
from etl_pipeline_last_fm_spark.streaming.marts import mart_fold_batch
from etl_pipeline_last_fm_spark.streaming.sketch import (
    _read_state_or_none,
    cms_fold_batch,
    guarded_fold,
    hll_fold_batch,
    last_applied_batch,
    merge_cms_grids,
    read_state,
)


def _toks(spark, words):
    return spark.createDataFrame([(w,) for w in words], "tok string")


def _grid_map(df):
    return {(r["__d"], r["__cell"]): r["__cnt"] for r in df.collect()}


def _cms(state, batch):
    return cms_fold_batch(state, batch, depth=2, width=16)


def test_cms_fold_replay_is_noop(spark, tmp_path):
    state = str(tmp_path / "cms_state")
    b0 = _toks(spark, ["a", "b", "a"])
    b1 = _toks(spark, ["b", "c"])

    guarded_fold(b0, 0, state, _cms)
    after_b0 = _grid_map(read_state(spark, state))

    # Replay of batch 0 (same batch_id) must not inflate any cell.
    guarded_fold(b0, 0, state, _cms)
    assert _grid_map(read_state(spark, state)) == after_b0

    # A genuinely new batch still folds in...
    guarded_fold(b1, 1, state, _cms)
    want = _grid_map(
        merge_cms_grids(
            cms_counters(b0, depth=2, width=16),
            cms_counters(b1, depth=2, width=16),
        )
    )
    assert _grid_map(read_state(spark, state)) == want

    # ...and replaying IT is again a no-op.
    guarded_fold(b1, 1, state, _cms)
    assert _grid_map(read_state(spark, state)) == want
    assert last_applied_batch(_read_state_or_none(spark, state)) == 1


def test_mart_fold_replay_is_noop(spark, tmp_path):
    state = str(tmp_path / "mart_state")
    b0 = spark.createDataFrame(
        [("click", 2.0), ("click", 3.0), ("view", 1.0)],
        "event_type string, value double",
    )
    b1 = spark.createDataFrame([("view", 5.0)], "event_type string, value double")

    def fold(st, b):
        return mart_fold_batch(st, b, ["event_type"], "value")

    guarded_fold(b0, 0, state, fold)
    guarded_fold(b0, 0, state, fold)  # replay
    guarded_fold(b1, 1, state, fold)
    guarded_fold(b1, 1, state, fold)  # replay

    got = {
        r["event_type"]: (r["value_sum"], r["n_rows"])
        for r in present(read_state(spark, state), ["event_type"]).collect()
    }
    assert got == {"click": (5.0, 2), "view": (6.0, 2)}


def test_hll_fold_replay_guard(spark, tmp_path):
    """HLL max-merge is idempotent anyway; the guard must still skip the
    replayed batch (uniform behavior) without changing the estimate."""
    state = str(tmp_path / "hll_state")
    b0 = spark.createDataFrame(
        [("click", 1), ("click", 2), ("view", 1)],
        "event_type string, user_id long",
    )
    def fold(st, batch):
        return hll_fold_batch(st, batch, "user_id", ["event_type"], b=4)

    guarded_fold(b0, 0, state, fold)
    regs = sorted(map(tuple, read_state(spark, state).collect()))
    guarded_fold(b0, 0, state, fold)
    assert sorted(map(tuple, read_state(spark, state).collect())) == regs
    assert last_applied_batch(_read_state_or_none(spark, state)) == 0


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, source string, text string")


def test_census_fold_replay_and_equivalence(spark, tmp_path):
    from etl_pipeline_last_fm_spark.operators.text import (
        corpus_drift,
        tv_from_census,
    )
    from etl_pipeline_last_fm_spark.streaming.drift import census_fold_batch

    def read_drift(spark, state):
        return tv_from_census(read_state(spark, state))

    state = str(tmp_path / "census_state")
    b0 = _docs(spark, [(1, "a", "x x y"), (2, "b", "x z")])
    b1 = _docs(spark, [(3, "a", "y z"), (4, "c", "p q")])

    guarded_fold(b0, 0, state, census_fold_batch)
    once = sorted(map(tuple, read_drift(spark, state).collect()))

    # Replay of batch 0 must be a no-op (census sums are NOT idempotent).
    guarded_fold(b0, 0, state, census_fold_batch)
    assert sorted(map(tuple, read_drift(spark, state).collect())) == once

    # Folding a new batch: stream state == batch corpus_drift of the union.
    guarded_fold(b1, 1, state, census_fold_batch)
    want = sorted(map(tuple, corpus_drift(b0.unionByName(b1)).collect()))
    assert sorted(map(tuple, read_drift(spark, state).collect())) == want


def test_postings_fold_replay_and_equivalence(spark, tmp_path):
    from etl_pipeline_last_fm_spark.operators.text import (
        inverted_index,
        render_inverted_index,
    )
    from etl_pipeline_last_fm_spark.streaming.drift import postings_fold_batch

    def read_inverted_index(spark, state, min_df):
        return render_inverted_index(read_state(spark, state), min_df)

    state = str(tmp_path / "postings_state")
    b0 = _docs(spark, [(1, "a", "x y x"), (2, "b", "x z")])
    b1 = _docs(spark, [(3, "a", "y z q"), (4, "c", "x")])

    guarded_fold(b0, 0, state, postings_fold_batch)
    once = sorted(map(tuple, read_inverted_index(spark, state, min_df=1).collect()))
    guarded_fold(b0, 0, state, postings_fold_batch)  # replay must be a no-op
    assert sorted(map(tuple, read_inverted_index(spark, state, min_df=1).collect())) == once

    guarded_fold(b1, 1, state, postings_fold_batch)
    want = sorted(
        map(tuple, inverted_index(b0.unionByName(b1), min_df=1).collect())
    )
    assert sorted(map(tuple, read_inverted_index(spark, state, min_df=1).collect())) == want


def test_checksum_fold_replay_and_equivalence(spark, tmp_path):
    """Streaming per-bucket checksums: replay is a no-op, and the folded
    state equals the one-shot checksum of the concatenated batches
    (modular addition is associative — (a+b) mod m folds batch-wise)."""
    from etl_pipeline_last_fm_spark.functions.scalar import portable_hash60
    from etl_pipeline_last_fm_spark.streaming.drift import (
        checksum_fold_batch,
        checksum_state,
    )

    def hashed(rows):
        df = spark.createDataFrame([(r,) for r in rows], "s string")
        return df.select(portable_hash60(F.col("s")).alias("__h"))

    state = str(tmp_path / "ck_state")
    b0 = ["alpha", "beta", "gamma", "delta"]
    b1 = ["epsilon", "zeta"]

    guarded_fold(hashed(b0), 0, state, checksum_fold_batch)
    once = sorted(map(tuple, read_state(spark, state).collect()))
    guarded_fold(hashed(b0), 0, state, checksum_fold_batch)  # replay no-op
    assert sorted(map(tuple, read_state(spark, state).collect())) == once

    guarded_fold(hashed(b1), 1, state, checksum_fold_batch)
    want = sorted(map(tuple, checksum_state(hashed(b0 + b1)).collect()))
    assert sorted(map(tuple, read_state(spark, state).collect())) == want


def test_commit_crash_safety_partial_snapshot_ignored(spark, tmp_path):
    """A crash mid-commit (part files written, no _SUCCESS) must leave the
    previous snapshot as the readable state — the r4 mode('overwrite')
    layout destroyed the only copy in exactly this window. Readers key on
    the _SUCCESS marker, so the marker-less directory is invisible, and
    the replayed batch clobbers only its own partial."""
    from etl_pipeline_last_fm_spark.streaming.sketch import (
        list_state_versions,
    )

    state = str(tmp_path / "cms_state")
    b0 = _toks(spark, ["a", "b", "a"])
    b1 = _toks(spark, ["b", "c"])

    guarded_fold(b0, 0, state, _cms)
    after_b0 = _grid_map(read_state(spark, state))

    # Simulate the crash: batch 1's snapshot dir exists with data but no
    # _SUCCESS marker (write died between part files and commit marker).
    partial = tmp_path / "cms_state" / "_v=1"
    partial.mkdir()
    (partial / "part-00000.parquet").write_bytes(b"\x00garbage, not parquet")

    # Reader ignores the partial; state is still exactly post-batch-0.
    assert [v for v, _ in list_state_versions(spark, state)] == [0]
    assert _grid_map(read_state(spark, state)) == after_b0
    assert last_applied_batch(_read_state_or_none(spark, state)) == 0

    # The streaming replay of batch 1 re-runs, clobbers its own partial,
    # and commits on top of the intact previous snapshot.
    guarded_fold(b1, 1, state, _cms)
    want = _grid_map(
        merge_cms_grids(
            cms_counters(b0, depth=2, width=16),
            cms_counters(b1, depth=2, width=16),
        )
    )
    assert _grid_map(read_state(spark, state)) == want
    assert [v for v, _ in list_state_versions(spark, state)] == [0, 1]


def test_commit_retention_prunes_old_snapshots(spark, tmp_path):
    """Snapshots older than the newest two are pruned AFTER the new commit
    lands; the live snapshot always reflects the full fold history."""
    from etl_pipeline_last_fm_spark.streaming.sketch import (
        list_state_versions,
    )

    state = str(tmp_path / "cms_state")
    batches = [["a"], ["b", "b"], ["c"], ["a", "c"]]
    for i, words in enumerate(batches):
        guarded_fold(_toks(spark, words), i, state, _cms)

    # retention = 2: only the two newest snapshots survive...
    assert [v for v, _ in list_state_versions(spark, state)] == [2, 3]
    # ...and the newest one equals the fold of ALL batches.
    want = _grid_map(
        cms_counters(_toks(spark, sum(batches, [])), depth=2, width=16)
    )
    assert _grid_map(read_state(spark, state)) == want


def test_legacy_flat_state_layout_raises(spark, tmp_path):
    """ADVICE r5 item 3: a pre-versioning state directory (bare parquet
    part files at the root, no _v=* snapshot) must raise, not be silently
    treated as an empty first-batch state — that would restart a durable
    fold from zero and lose the accumulated counts."""
    import pytest

    from etl_pipeline_last_fm_spark.streaming.sketch import (
        commit_state,
        list_state_versions,
    )

    root = str(tmp_path / "legacy_state")
    spark.range(5).write.parquet(root)  # the old flat layout
    with pytest.raises(ValueError, match="flat .pre-versioning."):
        list_state_versions(spark, root)

    # A properly versioned root (even alongside stray non-part files such
    # as _SUCCESS markers at the top level) still lists normally.
    root2 = str(tmp_path / "versioned_state")
    commit_state(spark.range(5), root2, batch_id=0)
    assert [b for b, _ in list_state_versions(spark, root2)] == [0]
