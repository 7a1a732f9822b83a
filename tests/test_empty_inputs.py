"""Empty-input robustness: operators must return empty/zero results with
the right schema, not throw — the daily partition that happens to have no
rows is a fact of life, not an error."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.expectations import (
    Expect,
    run_expectations,
)
from etl_pipeline_last_fm_spark.operators.incremental import (
    additive_state,
    merge_states,
    present,
)
from etl_pipeline_last_fm_spark.operators.sessions import sessionize
from etl_pipeline_last_fm_spark.operators.sketch import (
    cms_heavy_hitters,
    hll_distinct,
)
from etl_pipeline_last_fm_spark.operators.timewindow import tumbling_window_agg


def _empty_docs(spark):
    return spark.createDataFrame([], "doc_id long, text string")


def _empty_events(spark):
    return spark.createDataFrame(
        [], "event_id long, ts timestamp, user_id long, event_type string, value double"
    )


def test_sketches_on_empty(spark):
    docs = _empty_docs(spark)
    assert cms_heavy_hitters(docs).count() == 0
    # Grouped HLL: no groups -> no rows (not a crash).
    ev = _empty_events(spark)
    assert hll_distinct(ev, "event_id", ["event_type"]).count() == 0


def test_hll_ungrouped_empty_is_zero_not_null(spark):
    """Ungrouped aggregate over zero rows emits ONE row; the register SUM is
    NULL there and must be coalesced to 0 so the linear-counting branch
    yields m*ln(m/m) = 0 — not a NULL that poisons the estimate."""
    ev = _empty_events(spark)
    rows = hll_distinct(ev, "event_id").collect()
    assert len(rows) == 1
    assert rows[0]["n_exact"] == 0
    assert rows[0]["n_approx"] == 0.0


def test_windows_and_sessions_on_empty(spark):
    ev = _empty_events(spark)
    assert tumbling_window_agg(ev).count() == 0
    assert sessionize(ev).count() == 0


def test_expectations_on_empty(spark):
    df = _empty_docs(spark)
    out = {
        r["check_name"]: (r["n_violations"], r["n_checked"])
        for r in run_expectations(
            df,
            [
                Expect("id_not_null", "not_null", cols=["doc_id"]),
                Expect("id_unique", "unique", cols=["doc_id"]),
            ],
        ).collect()
    }
    # Zero rows -> zero violations, zero checked; sums must coalesce, not null.
    assert out["id_unique"] == (0, 0)
    assert out["id_not_null"] == (0, 0)


def test_incremental_merge_with_empty_side(spark):
    a = spark.createDataFrame(
        [(1, "a", 2.0), (2, "a", 4.0)], "event_id long, event_type string, value double"
    )
    empty = _empty_events(spark).select("event_id", "event_type", "value")
    keys = ["event_type"]
    merged = present(
        merge_states(
            [additive_state(a, keys, "value"), additive_state(empty, keys, "value")],
            keys,
        ),
        keys,
    ).collect()
    assert len(merged) == 1
    assert merged[0]["value_sum"] == 6.0 and merged[0]["n_rows"] == 2


def test_graph_ops_on_empty(spark):
    from etl_pipeline_last_fm_spark.operators.graph import (
        pagerank_micro,
        triangle_counts,
    )

    edges = spark.createDataFrame([], "a long, b long")
    assert triangle_counts(edges).count() == 0
    directed = spark.createDataFrame([], "src long, dst long")
    assert pagerank_micro(directed, n_iter=2).count() == 0


def test_corpus_drift_single_source_no_pairs(spark):
    from etl_pipeline_last_fm_spark.operators.text import corpus_drift

    d = spark.createDataFrame(
        [(1, "a", "x y")], "doc_id long, source string, text string"
    )
    assert corpus_drift(d).count() == 0
    empty = spark.createDataFrame([], "doc_id long, source string, text string")
    assert corpus_drift(empty).count() == 0


def test_merge_upsert_empty_batch_keeps_target(spark):
    import datetime as dt

    from etl_pipeline_last_fm_spark.operators.scd import merge_upsert

    ev = spark.createDataFrame(
        [(1, 1, "view", 10.0, dt.datetime(2024, 1, 10))],
        "event_id long, user_id long, event_type string, value double, ts timestamp_ntz",
    )
    out = merge_upsert(ev).collect()  # no post-cutoff rows at all
    assert len(out) == 1 and out[0]["value"] == 10.0
    empty = spark.createDataFrame(
        [], "event_id long, user_id long, event_type string, value double, ts timestamp_ntz"
    )
    assert merge_upsert(empty).count() == 0


def test_inverted_index_empty(spark):
    from etl_pipeline_last_fm_spark.operators.text import inverted_index

    empty = spark.createDataFrame([], "doc_id long, source string, text string")
    assert inverted_index(empty).count() == 0


def test_kcore_on_empty(spark):
    from etl_pipeline_last_fm_spark.operators.graph import kcore_rounds

    edges = spark.createDataFrame([], "a long, b long")
    assert kcore_rounds(edges, k=2, n_rounds=3).count() == 0


def _batch_fold_members():
    from etl_pipeline_last_fm_spark.operators.attribution import (
        incremental_attribution_batches,
        incremental_decay_attribution_batches,
    )
    from etl_pipeline_last_fm_spark.operators.incremental import fold_batches
    from etl_pipeline_last_fm_spark.operators.segments import (
        incremental_twap_batches,
    )
    from etl_pipeline_last_fm_spark.operators.skyline import skyline_fold_batches
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        incremental_cusum_batches,
        incremental_ema_batches,
        incremental_holt_batches,
    )

    return {
        "fold_batches": lambda b: fold_batches(b, lambda s, x: x),
        "ema": incremental_ema_batches,
        "cusum": incremental_cusum_batches,
        "holt": incremental_holt_batches,
        "twap": incremental_twap_batches,
        "attribution": incremental_attribution_batches,
        "decay_attribution": incremental_decay_attribution_batches,
        "skyline": lambda b: skyline_fold_batches(b, "id", "cost", "gain"),
    }


@pytest.mark.parametrize(
    "member",
    ["fold_batches", "ema", "cusum", "holt", "twap", "attribution",
     "decay_attribution", "skyline"],
)
def test_batch_fold_of_no_batches_raises_value_error(member):
    """An empty batch list has no state to return: every batch fold driver
    fails with a ValueError up front (not an assert that ``python -O``
    strips, and not a crash on ``None`` further down)."""
    with pytest.raises(ValueError, match="at least one batch"):
        _batch_fold_members()[member]([])
