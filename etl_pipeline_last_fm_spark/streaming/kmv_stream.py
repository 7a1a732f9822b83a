"""Incremental KMV (bottom-k) maintenance on a stream.

The third member of the streaming-sketch family (streaming/sketch.py holds
CMS and HLL): each micro-batch's bottom-k state folds into the persisted
state by union + re-take-bottom-k (`merge_kmv_states`). Unlike CMS sums,
the merge is IDEMPOTENT — the same (group, value) row carries the same
hash in every batch, so folding a replayed micro-batch twice provably
cannot change the state. The batch_id guard is still applied, matching
HLL's rationale: uniformity of the state format and skipping wasted work,
not correctness.

State size: |groups| * k rows forever. `kmv_summary` /
`kmv_set_ops` over `read_state(...)` turn the maintained state into
distinct counts / quantiles / set-algebra on demand — and because the
state is a pure function of the value SET (not arrival order), the
stream-maintained state equals the batch state of the union exactly,
row for row (tested in tests/test_round4_ops.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from etl_pipeline_last_fm_spark.operators.sketch import kmv_state, merge_kmv_states


def kmv_fold_batch(
    state: DataFrame | None,
    batch: DataFrame,
    value_col: str,
    group_cols: list[str],
    k: int = 64,
    salt: str = "kmv1",
) -> DataFrame:
    """Merge one batch's bottom-k state into the state (idempotent)."""
    new = kmv_state(batch, value_col, group_cols, k=k, salt=salt)
    return new if state is None else merge_kmv_states(state, new, group_cols, k=k)
