"""Streaming corpus-drift maintenance (foreachBatch additive census fold).

`text.token_census` is an ADDITIVE state — censuses of disjoint document
batches merge by per-(source, token) count sum, order-free — so the
streaming incremental-maintenance recipe (streaming/marts.py,
streaming/sketch.py) applies verbatim: each micro-batch folds its own
census into the persisted state behind ``guarded_fold``'s at-least-once
replay guard (last applied batch_id persisted with the state, fold
no-ops on batch_id <= last). TV distances are computed at READ time from
the state (`text.tv_from_census` over ``read_state``) — the expensive
pair expansion never runs inside the fold.

With the guard + algebra, the presented drift table equals the batch
`corpus_drift` of everything ever seen (tested, incl. a replay case).
Same single-writer caveat as the other foreachBatch sinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.text import postings_census, token_census


def census_fold_batch(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Sum one batch's token census into the census state; read drift
    with ``text.tv_from_census(read_state(...))``."""
    new = token_census(batch)
    if state is None:
        return new
    return (
        state.unionByName(new).groupBy("source", "tok").agg(F.sum("cnt").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Streaming inverted-index maintenance (same additive-fold recipe)
# ---------------------------------------------------------------------------


def postings_fold_batch(state: DataFrame | None, batch: DataFrame) -> DataFrame:
    """Sum one batch's postings into the postings state; render the index
    at READ time with ``text.render_inverted_index(read_state(...))`` —
    the SAME code path as text.inverted_index over the concatenated
    batches. APPEND-ONLY corpus contract: a doc_id must appear in exactly
    one batch (re-sending a document doubles its tf — that is the dedup
    layer's job upstream, streaming/dedup.py), so (term, doc_id) keys are
    disjoint across batches and the merge is a plain union; the groupBy
    both normalizes accidental overlap deterministically (tf sums) and
    keeps one row per key. The census itself is text.postings_census so
    the batch and streaming contracts can never drift."""
    new = postings_census(batch)
    if state is None:
        return new
    return (
        state.unionByName(new).groupBy("term", "doc_id").agg(F.sum("tf").alias("tf"))
    )


# ---------------------------------------------------------------------------
# Streaming table-checksum maintenance (modular additive fold)
# ---------------------------------------------------------------------------

CK_MOD = 2_305_843_009_213_693_952  # 2^61


def checksum_state(batch_df: DataFrame, hash_col: str = "__h") -> DataFrame:
    """Per-bucket (n_rows, checksum) over pre-hashed rows — the additive
    state behind __spark_entry__.q_table_checksum. Modular addition is
    associative and commutative, so disjoint batches fold in any order."""
    return (
        batch_df.groupBy(F.pmod(F.col(hash_col), F.lit(64)).alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr(
                f"CAST(SUM(CAST({hash_col} AS DECIMAL(38,0))) % {CK_MOD} AS BIGINT)"
            ).alias("checksum"),
        )
    )


def checksum_fold_batch(
    state: DataFrame | None, batch: DataFrame, hash_col: str = "__h"
) -> DataFrame:
    """Add one batch's bucket checksums into the checksum state
    (append-only row contract like the postings fold)."""
    new = checksum_state(batch, hash_col)
    if state is None:
        return new
    return (
        state.unionByName(new)
        .groupBy("bucket")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.expr(f"CAST(SUM(checksum) % {CK_MOD} AS BIGINT)").alias("checksum"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming ROC-AUC maintenance (same additive-fold recipe, round 8)
# ---------------------------------------------------------------------------


def auc_census_fold_batch(
    state: DataFrame | None, batch: DataFrame, pos_type: str = "purchase"
) -> DataFrame:
    """Add one batch's score census (evalmetrics.score_census — the SAME
    code path as the batch roc_auc) into the census state. Per-value
    label counts are additive and order-free, so any batching of the
    event stream yields the same state; the AUC is computed at READ time
    (``evalmetrics.auc_from_census(read_state(...))``, equal to the
    one-shot ``roc_auc`` of the concatenated batches) — the dim cumsum
    never runs inside the fold."""
    from etl_pipeline_last_fm_spark.operators.evalmetrics import score_census

    new = score_census(batch, pos_type)
    if state is None:
        return new
    return (
        state.unionByName(new)
        .groupBy("v")
        .agg(
            F.sum("n_pos_v").alias("n_pos_v"),
            F.sum("n_neg_v").alias("n_neg_v"),
        )
    )
