"""Streaming incremental mart maintenance (foreachBatch additive fold).

The batch contract in operators/incremental.py — additive integer
(sum, count) states, merge-associative — is exactly what a streaming mart
needs: each micro-batch computes ITS OWN partial state and folds it into
the persisted mart state with one bounded merge.

Two distinct failure modes, two distinct mechanisms:
- REORDERING (late data, out-of-order arrival) is handled by algebra:
  merge order cannot change an associative+commutative integer sum.
- REPLAY (foreachBatch is at-least-once; a failed micro-batch re-runs with
  the same batch_id) is NOT handled by algebra — folding the same batch
  twice doubles its counts. It is handled by the replay guard: the last
  applied batch_id is persisted inside the state (``__bid`` column, same
  parquet commit as the data) and ``guarded_fold`` no-ops when
  batch_id <= last applied. See streaming/sketch.py.

With both, the presented mart equals the batch rebuild of everything seen
(tested, including a double-fold replay case). Same single-writer caveat
as the other foreachBatch sinks.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame

from etl_pipeline_last_fm_spark.operators.incremental import (
    additive_state,
    merge_states,
)


def mart_fold_batch(
    state: DataFrame | None,
    batch: DataFrame,
    keys: Sequence[str],
    value_col: str,
) -> DataFrame:
    """Merge one batch's additive (sum, count) state into the mart state.
    Run it per micro-batch with streaming/sketch.py ``fold_stream`` /
    ``guarded_fold``; present with operators.incremental.present."""
    new = additive_state(batch, list(keys), value_col)
    return new if state is None else merge_states([state, new], list(keys))
