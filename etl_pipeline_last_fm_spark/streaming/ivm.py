"""Streaming incremental JOIN maintenance (foreachBatch delta-rule fold)
and the two-state ordered-fold protocol.

Completes the IVM family: operators/incremental.py maintains aggregates
(additive states) and batch-mode joins (incremental_join_batches); this
module maintains a materialized two-sided inner join CONTINUOUSLY from
one stream of TAGGED deltas — each row carries a ``side`` column ('a' or
'b') plus that side's payload columns. Per micro-batch the fold applies
the delta rule

    ΔM = ΔA ⋈ B_state ∪ A_state ⋈ ΔB ∪ ΔA ⋈ ΔB

then appends ΔA/ΔB to the side states and ΔM to the join state. The
delta rule bounds the JOIN COMPUTE to O(|Δ| × matched-state); the
snapshot COMMIT in this implementation still rewrites each full state
per batch (commit_state writes whole versioned snapshots — at true
materialized-join scale the commit layout must become append/partitioned
so the I/O matches the compute bound; the algebra is unchanged). All
three states ride the crash-safe versioned commit protocol
(streaming/sketch.py commit_state) under ONE shared replay guard: the
batch_id is stamped into each state and the fold no-ops when replayed,
because ΔM appends (unlike HLL maxima) double-count on replay.

Why one tagged stream rather than two readStreams: foreachBatch binds a
single streaming source per query, and a union-of-sources with a side
tag is the standard lowering — it also gives the delta rule its
atomicity (one batch carries BOTH sides' deltas, so the ΔΔ term is
well-defined per batch).

Equality contract (tested): after any prefix of batches, the m state
(``read_state(spark, f"{root}/m")``) equals the one-shot inner join of
all side-a rows seen ⋈ all side-b rows seen — for ANY split of either
side across batches, including replays. Drive it with
``fold_stream(stream, root, on, protocol=join_fold_batch)``.

Scale: the per-batch JOIN cost is O(|Δ| × matched-state), with the
append-layout caveat above for the write side; each delta join still
shuffles the state side, which a key-partitioned state layout would
remove.

State-retention coupling: the crash-window read of pre-batch versions
relies on commit_state's default retain=2 keeping v=batch_id-1 alive
while v=batch_id is being written; the fold asserts the invariant (m
state present => both pre-batch side states present) and raises instead
of silently refolding from empty.

The single-state members (ema, cusum, twap, holt, skyline and the
additive sinks) need no code here: streaming/sketch.py ``guarded_fold``
runs their ``*_fold_batch`` directly.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.attribution import _merge_channel_totals
from etl_pipeline_last_fm_spark.operators.incremental import join_delta
from etl_pipeline_last_fm_spark.streaming.sketch import (
    BID_COL,
    _read_state_before,
    _read_state_or_none,
    _strip_bid,
    commit_state,
    last_applied_batch,
)


def join_fold_batch(
    batch_df: DataFrame,
    batch_id: int,
    state_root: str,
    on: Sequence[str],
    side_col: str = "side",
) -> None:
    """Fold ONE tagged micro-batch into the (a, b, m) state trio.
    Module-level so the replay guard is directly testable. The guard is
    checked against the M state; all three states commit in one fold, M
    LAST. Crash-window safety: a crash after the a/b commits but before
    the m commit replays the batch — the fold therefore reads the a/b
    states at the latest version STRICTLY BEFORE this batch_id
    (_read_state_before), so the replayed fold sees exactly the
    pre-batch states and recommits v=batch_id idempotently; reading the
    LATEST version there would double-count the batch's own deltas."""
    spark = batch_df.sparkSession
    on = list(on)
    m_path = f"{state_root}/m"
    a_path = f"{state_root}/a"
    b_path = f"{state_root}/b"
    prev_m = _read_state_or_none(spark, m_path)
    if int(batch_id) <= last_applied_batch(prev_m):
        return  # replayed micro-batch, already folded
    # Tagged-schema contract, VALIDATED (not just implied): columns are
    # exactly {side} ∪ on ∪ a_-prefixed payload ∪ b_-prefixed payload. A
    # payload column without its side prefix would otherwise be silently
    # dropped from the maintained state; an on-key with a side prefix
    # would be selected twice and break the join.
    cols = set(batch_df.columns)
    bad_on = [k for k in on if k.startswith(("a_", "b_"))]
    if bad_on:
        raise ValueError(f"join keys must not use side prefixes: {bad_on}")
    stray = cols - {side_col} - set(on) - {
        c for c in cols if c.startswith(("a_", "b_"))
    }
    if stray:
        raise ValueError(
            f"unprefixed payload columns would be dropped: {sorted(stray)};"
            " name side-a payloads a_* and side-b payloads b_*"
        )
    da = batch_df.filter(F.col(side_col) == "a").drop(side_col)
    db = batch_df.filter(F.col(side_col) == "b").drop(side_col)
    a_cols = on + [c for c in da.columns if c.startswith("a_")]
    b_cols = on + [c for c in db.columns if c.startswith("b_")]
    da = da.select(*a_cols)
    db = db.select(*b_cols)
    prev_a = _read_state_before(spark, a_path, int(batch_id))
    prev_b = _read_state_before(spark, b_path, int(batch_id))
    if prev_m is not None and (prev_a is None or prev_b is None):
        # m exists => at least one earlier fold committed => both side
        # states MUST have a pre-batch version (commit_state retain >= 2
        # keeps it). Hitting this means retention was lowered or state
        # dirs were tampered with; refolding from empty would silently
        # discard all accumulated side state.
        raise RuntimeError(
            f"pre-batch side state missing under {state_root} for batch"
            f" {batch_id} while m state exists — retention too aggressive?"
        )
    a_state = _strip_bid(prev_a) if prev_a is not None else None
    b_state = _strip_bid(prev_b) if prev_b is not None else None

    delta = join_delta(da, db, a_state, b_state, on)
    if prev_m is not None:
        delta = _strip_bid(prev_m).unionByName(delta)

    new_a = da if a_state is None else a_state.unionByName(da)
    new_b = db if b_state is None else b_state.unionByName(db)
    bid = F.lit(int(batch_id))
    commit_state(new_a.withColumn(BID_COL, bid), a_path, batch_id)
    commit_state(new_b.withColumn(BID_COL, bid), b_path, batch_id)
    # M last: its batch_id is the replay guard for the whole trio.
    commit_state(delta.withColumn(BID_COL, bid), m_path, batch_id)


def _two_state_stream_fold(
    batch_df: DataFrame, batch_id: int, state_root: str, fold_fn
) -> None:
    """The TWO-state ordered-fold protocol, defined ONCE: a per-key
    carried state (k) plus additive per-channel totals (c). The totals
    commit LAST and carry the replay guard (the join fold's m-last
    rule: a crash after the k commit but before the c commit replays
    the batch, and the replayed fold reads both states at the latest
    version STRICTLY BEFORE this batch_id, so the batch's own credits
    cannot double). ``fold_fn(state_or_None, batch)`` ->
    (new_key_state, delta_totals): ``attribution_fold_batch`` and
    ``decay_attribution_fold_batch`` as they are. Drive it with
    ``fold_stream(..., protocol=_two_state_stream_fold)`` and read the
    totals with ``read_state(spark, f"{state_root}/c")``."""
    spark = batch_df.sparkSession
    k_path = f"{state_root}/k"
    c_path = f"{state_root}/c"
    prev_c = _read_state_or_none(spark, c_path)
    if int(batch_id) <= last_applied_batch(prev_c):
        return  # replayed micro-batch, already folded
    before_k = _read_state_before(spark, k_path, int(batch_id))
    if prev_c is not None and before_k is None:
        raise RuntimeError(
            f"pre-batch key state missing under {state_root} for batch"
            f" {batch_id} while totals state exists — retention too"
            " aggressive?"
        )
    before_c = _read_state_before(spark, c_path, int(batch_id))
    key_state = _strip_bid(before_k) if before_k is not None else None
    new_state, delta = fold_fn(key_state, batch_df)
    if before_c is not None:
        delta = _merge_channel_totals(_strip_bid(before_c), delta)
    bid = F.lit(int(batch_id))
    commit_state(new_state.withColumn(BID_COL, bid), k_path, batch_id)
    # totals LAST: their batch_id is the replay guard for the pair.
    commit_state(delta.withColumn(BID_COL, bid), c_path, batch_id)
