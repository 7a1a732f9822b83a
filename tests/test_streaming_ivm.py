"""Streaming incremental-join maintenance: the delta-rule fold over a
tagged delta stream must equal the one-shot join of everything seen, under
replays AND under the crash window where the a/b states committed but the
m state did not (the fold reads pre-batch state versions, so the replayed
batch cannot double-count its own deltas)."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.streaming.ivm import join_fold_batch
from etl_pipeline_last_fm_spark.streaming.sketch import (
    fold_stream,
    guarded_fold,
    read_state,
)

SCHEMA = "side string, k long, a_val string, b_val long"


def _tagged(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def _batches(spark):
    # key 1: A in batch 0, extra B rows in batch 2 (one-sided + dup bag rows)
    # key 2: A in batch 1, B in batch 0 (A-delta against B-state)
    # key 3: A only (never joins)
    b0 = _tagged(spark, [("a", 1, "a1", None), ("b", 1, None, 10),
                         ("b", 2, None, 20)])
    b1 = _tagged(spark, [("a", 2, "a2", None), ("a", 3, "a3", None)])
    b2 = _tagged(spark, [("b", 1, None, 11), ("b", 1, None, 11)])
    return [b0, b1, b2]


WANT = sorted([(1, "a1", 10), (1, "a1", 11), (1, "a1", 11), (2, "a2", 20)])


def test_stream_fold_equals_one_shot_join(spark, tmp_path):
    root = str(tmp_path / "jst")
    for i, b in enumerate(_batches(spark)):
        join_fold_batch(b, i, root, ["k"])
    got = sorted(map(tuple, read_state(spark, f"{root}/m").collect()))
    assert got == WANT


def test_stream_fold_replay_is_noop(spark, tmp_path):
    root = str(tmp_path / "jst")
    batches = _batches(spark)
    join_fold_batch(batches[0], 0, root, ["k"])
    join_fold_batch(batches[0], 0, root, ["k"])  # replay
    join_fold_batch(batches[1], 1, root, ["k"])
    join_fold_batch(batches[2], 2, root, ["k"])
    join_fold_batch(batches[2], 2, root, ["k"])  # replay
    got = sorted(map(tuple, read_state(spark, f"{root}/m").collect()))
    assert got == WANT


def test_stream_fold_crash_between_side_and_m_commit(spark, tmp_path):
    """Simulate the crash window: batch 2's a/b states committed but the
    m commit never landed (deleted here). The replayed fold must read the
    PRE-batch a/b versions — otherwise batch 2's own deltas double."""
    import shutil

    root = str(tmp_path / "jst")
    batches = _batches(spark)
    join_fold_batch(batches[0], 0, root, ["k"])
    join_fold_batch(batches[1], 1, root, ["k"])
    join_fold_batch(batches[2], 2, root, ["k"])
    # "crash": the m commit for batch 2 is lost; a/b v=2 survive.
    shutil.rmtree(tmp_path / "jst" / "m" / "_v=2")
    join_fold_batch(batches[2], 2, root, ["k"])  # replay after restart
    got = sorted(map(tuple, read_state(spark, f"{root}/m").collect()))
    assert got == WANT


def test_streaming_join_maintenance_end_to_end(spark, tmp_path):
    """A REAL availableNow stream over tagged delta files: maintained M
    equals the one-shot join regardless of file->batch assignment (the
    delta rule is split-invariant)."""
    src = str(tmp_path / "src")
    rows = [("a", 1, "a1", None), ("b", 1, None, 10), ("a", 2, "a2", None),
            ("b", 2, None, 20), ("b", 1, None, 11), ("a", 3, "a3", None)]
    _tagged(spark, rows).repartition(3).write.parquet(src)
    stream = (
        spark.readStream.schema(_tagged(spark, rows).schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    root = str(tmp_path / "jst")
    q = (
        fold_stream(
            stream, root, ["k"], checkpoint=str(tmp_path / "ck"),
            protocol=join_fold_batch,
        )
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = sorted(map(tuple, read_state(spark, f"{root}/m").collect()))
    a = _tagged(spark, rows).filter("side = 'a'").select("k", "a_val")
    b = _tagged(spark, rows).filter("side = 'b'").select("k", "b_val")
    want = sorted(map(tuple, a.join(b, "k").collect()))
    assert got == want


def test_join_fold_rejects_unprefixed_payload_and_prefixed_keys(spark, tmp_path):
    import pytest

    root = str(tmp_path / "jst")
    bad = spark.createDataFrame(
        [("a", 1, "x")], "side string, k long, payload string"
    )
    with pytest.raises(ValueError, match="unprefixed payload"):
        join_fold_batch(bad, 0, root, ["k"])
    bad2 = spark.createDataFrame(
        [("a", 1, "x")], "side string, a_id long, a_val string"
    )
    with pytest.raises(ValueError, match="side prefixes"):
        join_fold_batch(bad2, 0, root, ["a_id"])


# --- Streaming EMA: the first order-DEPENDENT IVM member (round 7) -----


EV_SCHEMA = "user_id long, event_id long, ts timestamp, value double"


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, e, f"2024-01-{d:02d} 00:00:00", v) for u, e, d, v in rows],
        "user_id long, event_id long, ts string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _ema_slices(spark):
    # user 1: values across all three slices; user 2: slices 0+2 only
    # (a key absent from a middle batch must carry its state through);
    # user 3: a single late event (state born in the last batch).
    s0 = _ev(spark, [(1, 10, 1, 4.00), (1, 11, 2, 8.00), (2, 20, 3, 6.00)])
    s1 = _ev(spark, [(1, 12, 11, 2.00)])
    s2 = _ev(spark, [(1, 13, 21, 10.00), (2, 21, 22, 2.00), (3, 30, 23, 5.00)])
    return [s0, s1, s2]


def _want_ema(spark, slices):
    from etl_pipeline_last_fm_spark.operators.timeseries import ema_halflife

    union = slices[0]
    for s in slices[1:]:
        union = union.unionByName(s)
    return sorted(map(tuple, ema_halflife(union).collect()))


def test_ema_stream_fold_equals_one_shot(spark, tmp_path):
    from etl_pipeline_last_fm_spark.operators.timeseries import ema_fold_batch

    path = str(tmp_path / "ema")
    slices = _ema_slices(spark)
    for i, b in enumerate(slices):
        guarded_fold(b, i, path, ema_fold_batch)
    got = sorted(
        map(tuple, read_state(spark, path)
            .select("key", "n_events", "ema_cents").collect())
    )
    assert got == _want_ema(spark, slices)


def test_ema_stream_fold_replay_is_noop_and_empty_batch_advances(spark, tmp_path):
    """Replaying a batch must not re-fold it (the EMA recurrence is NOT
    idempotent — a double fold halves the state again), and an EMPTY
    micro-batch must advance the guard while leaving every key's state
    unchanged."""
    from etl_pipeline_last_fm_spark.operators.timeseries import ema_fold_batch

    path = str(tmp_path / "ema")
    slices = _ema_slices(spark)
    guarded_fold(slices[0], 0, path, ema_fold_batch)
    guarded_fold(slices[0], 0, path, ema_fold_batch)  # replay
    guarded_fold(slices[1], 1, path, ema_fold_batch)
    guarded_fold(slices[1].limit(0), 2, path, ema_fold_batch)  # empty batch
    guarded_fold(slices[2], 3, path, ema_fold_batch)
    guarded_fold(slices[2], 3, path, ema_fold_batch)  # replay
    got = sorted(
        map(tuple, read_state(spark, path)
            .select("key", "n_events", "ema_cents").collect())
    )
    assert got == _want_ema(spark, slices)


def test_ema_stream_fold_out_of_order_batch_raises(spark, tmp_path):
    """An event at or before a key's frontier must RAISE through the
    streaming fold (never silently corrupt the trajectory) — and the
    failed fold must NOT have committed: the state still reads as the
    pre-violation version and accepts a corrected batch."""
    import pytest

    from etl_pipeline_last_fm_spark.operators.timeseries import ema_fold_batch

    path = str(tmp_path / "ema")
    slices = _ema_slices(spark)
    guarded_fold(slices[0], 0, path, ema_fold_batch)
    stale = _ev(spark, [(1, 9, 1, 99.0)])  # day 1 <= user 1's day-2 frontier
    with pytest.raises(Exception, match="out-of-order"):
        guarded_fold(stale, 1, path, ema_fold_batch)
    # the violating batch must not have committed as v=1
    guarded_fold(slices[1], 1, path, ema_fold_batch)
    guarded_fold(slices[2], 2, path, ema_fold_batch)
    got = sorted(
        map(tuple, read_state(spark, path)
            .select("key", "n_events", "ema_cents").collect())
    )
    assert got == _want_ema(spark, slices)


def test_streaming_ema_maintenance_end_to_end(spark, tmp_path):
    """A REAL availableNow stream of time-slice files with forced
    modification times: the maintained state equals the one-shot fold.
    File order is load-bearing here (unlike the join twin) — the mtimes
    make FileStreamSource deliver slices oldest-first."""
    import os

    from etl_pipeline_last_fm_spark.operators.timeseries import ema_fold_batch

    slices = _ema_slices(spark)
    src = tmp_path / "src"
    os.makedirs(src)
    for i, sl in enumerate(slices):
        staged = str(tmp_path / f"w{i}")
        sl.coalesce(1).write.parquet(staged)
        [part] = [p for p in os.listdir(staged)
                  if p.startswith("part-") and p.endswith(".parquet")]
        dst = src / f"slice{i}.parquet"
        os.rename(os.path.join(staged, part), dst)
        os.utime(dst, (1_700_000_000 + 3600 * i,) * 2)
    stream = (
        spark.readStream.schema(slices[0].schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src))
    )
    path = str(tmp_path / "ema")
    q = (
        fold_stream(stream, path, ema_fold_batch, checkpoint=str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    got = sorted(
        map(tuple, read_state(spark, path)
            .select("key", "n_events", "ema_cents").collect())
    )
    assert got == _want_ema(spark, slices)


def test_cusum_stream_fold_identity_replay_and_out_of_order(spark, tmp_path):
    """CUSUM streaming twin, same single-state protocol as the EMA one:
    folded state == the one-shot detector; replays no-op (the CUSUM
    recurrence is not idempotent either); out-of-order batches raise
    without committing."""
    import pytest

    from etl_pipeline_last_fm_spark.operators.timeseries import (
        cusum_alarms,
        cusum_fold_batch,
    )

    path = str(tmp_path / "cusum")
    slices = _ema_slices(spark)
    kw = dict(drift_cents=100, threshold_cents=400)

    def fold(s, b):
        return cusum_fold_batch(s, b, **kw)

    guarded_fold(slices[0], 0, path, fold)
    guarded_fold(slices[0], 0, path, fold)  # replay
    stale = _ev(spark, [(1, 9, 1, 99.0)])  # at/before user 1's frontier
    with pytest.raises(Exception, match="out-of-order"):
        guarded_fold(stale, 1, path, fold)
    guarded_fold(slices[1], 1, path, fold)
    guarded_fold(slices[2], 2, path, fold)
    guarded_fold(slices[2], 2, path, fold)  # replay
    got = sorted(
        map(tuple, read_state(spark, path).select(
            "key", "n_events", "cusum_final", "cusum_max", "n_alarms"
        ).collect())
    )
    union = slices[0]
    for s in slices[1:]:
        union = union.unionByName(s)
    want = sorted(map(tuple, cusum_alarms(union, **kw).collect()))
    assert got == want


def test_attribution_stream_two_state_protocol(spark, tmp_path):
    """Attribution streaming twin: maintained totals == the one-shot
    walk; replays no-op; the crash window (k state committed, c totals
    commit lost) replays without double-counting the batch's credits —
    the join fold's m-last rule carried over."""
    import shutil

    from etl_pipeline_last_fm_spark.operators.attribution import (
        attribution_fold_batch,
        last_touch_attribution,
    )
    from etl_pipeline_last_fm_spark.streaming.ivm import _two_state_stream_fold

    def _tev(spark, rows):
        return spark.createDataFrame(
            [(u, e, f"2024-01-{d:02d} 00:00:00", t, v) for u, e, d, t, v in rows],
            "user_id long, event_id long, ts string, event_type string,"
            " value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    # user 1: view day 1 -> purchase day 3 (credited, cross-batch);
    # purchase day 20 (stale touch -> none). user 2: purchase day 11
    # with NO touch -> none; click day 12 -> purchase day 12 (same-day).
    s0 = _tev(spark, [(1, 10, 1, "view", 5.0), (1, 11, 3, "purchase", 8.0)])
    s1 = _tev(spark, [(2, 20, 11, "purchase", 6.0), (2, 21, 12, "click", 1.0),
                      (2, 22, 12, "purchase", 4.0)])
    s2 = _tev(spark, [(1, 12, 20, "purchase", 2.0)])
    slices = [s0, s1, s2]
    root = str(tmp_path / "attr")
    _two_state_stream_fold(slices[0], 0, root, attribution_fold_batch)
    _two_state_stream_fold(slices[0], 0, root, attribution_fold_batch)  # replay
    _two_state_stream_fold(slices[1], 1, root, attribution_fold_batch)
    _two_state_stream_fold(slices[2], 2, root, attribution_fold_batch)
    _two_state_stream_fold(slices[2], 2, root, attribution_fold_batch)  # replay
    union = s0.unionByName(s1).unionByName(s2)
    want = sorted(map(tuple, last_touch_attribution(union).collect()))
    got = sorted(map(tuple, read_state(spark, f"{root}/c").collect()))
    assert got == want
    assert ("none", 2, 800) in got  # the stale + the touchless purchase
    # crash window: the totals commit for batch 2 is lost; k v=2 survives
    shutil.rmtree(tmp_path / "attr" / "c" / "_v=2")
    _two_state_stream_fold(slices[2], 2, root, attribution_fold_batch)
    got2 = sorted(map(tuple, read_state(spark, f"{root}/c").collect()))
    assert got2 == want


def test_decay_attribution_stream_two_state_protocol(spark, tmp_path):
    """Time-decay streaming twin: maintained totals == the one-shot
    walk; replays no-op; the crash window (k committed, c lost) replays
    without double-counting — the shared _two_state_stream_fold
    protocol, now with the window-bounded key state."""
    import shutil

    from etl_pipeline_last_fm_spark.operators.attribution import (
        decay_attribution_fold_batch,
        time_decay_attribution,
    )
    from etl_pipeline_last_fm_spark.streaming.ivm import _two_state_stream_fold

    def _tev(spark, rows):
        return spark.createDataFrame(
            [(u, e, f"2024-01-{d:02d} 00:00:00", t, v) for u, e, d, t, v in rows],
            "user_id long, event_id long, ts string, event_type string,"
            " value double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    # user 1: two touches at different ages -> split credit; a stale
    # purchase on day 20 -> none. user 2: same-day click -> full credit.
    s0 = _tev(spark, [(1, 10, 1, "view", 0.0), (1, 11, 3, "click", 0.0),
                      (1, 12, 4, "purchase", 8.0)])
    s1 = _tev(spark, [(2, 20, 11, "purchase", 6.0), (2, 21, 12, "click", 1.0),
                      (2, 22, 12, "purchase", 4.0)])
    s2 = _tev(spark, [(1, 13, 20, "purchase", 2.0)])
    slices = [s0, s1, s2]
    root = str(tmp_path / "dattr")
    for i, b in enumerate(slices):
        _two_state_stream_fold(b, i, root, decay_attribution_fold_batch)
        _two_state_stream_fold(b, i, root, decay_attribution_fold_batch)  # replay
    union = s0.unionByName(s1).unionByName(s2)
    want = sorted(map(tuple, time_decay_attribution(union).collect()))
    got = sorted(map(tuple, read_state(spark, f"{root}/c").collect()))
    assert got == want
    # crash window: totals commit for batch 2 lost; k v=2 survives
    shutil.rmtree(tmp_path / "dattr" / "c" / "_v=2")
    _two_state_stream_fold(slices[2], 2, root, decay_attribution_fold_batch)
    got2 = sorted(map(tuple, read_state(spark, f"{root}/c").collect()))
    assert got2 == want


def test_twap_stream_fold_identity_replay_and_out_of_order(spark, tmp_path):
    """TWAP streaming twin (ordered-fold member #5), same single-state
    protocol: presented state == the one-shot time_weighted_avg; replays
    no-op (the integral is NOT idempotent — double-folding a batch would
    double its segments); out-of-order batches raise without committing;
    a key absent from a middle batch carries its state (and its open
    segment bridges the gap)."""
    import pytest

    from etl_pipeline_last_fm_spark.operators.segments import (
        present_twap_state,
        time_weighted_avg,
        twap_fold_batch,
    )

    path = str(tmp_path / "twap")
    slices = _ema_slices(spark)
    guarded_fold(slices[0], 0, path, twap_fold_batch)
    guarded_fold(slices[0], 0, path, twap_fold_batch)  # replay
    stale = _ev(spark, [(1, 9, 1, 99.0)])  # at/before user 1's frontier
    with pytest.raises(Exception, match="out-of-order"):
        guarded_fold(stale, 1, path, twap_fold_batch)
    guarded_fold(slices[1], 1, path, twap_fold_batch)
    guarded_fold(slices[1].limit(0), 2, path, twap_fold_batch)  # empty batch
    guarded_fold(slices[2], 3, path, twap_fold_batch)
    guarded_fold(slices[2], 3, path, twap_fold_batch)  # replay
    got = sorted(
        map(tuple, present_twap_state(read_state(spark, path)).collect())
    )
    union = slices[0]
    for s in slices[1:]:
        union = union.unionByName(s)
    want = sorted(map(tuple, time_weighted_avg(union).collect()))
    assert got == want


def test_single_state_replay_after_partial_commit(spark, tmp_path):
    """VERDICT r7 item 5: the single-state crash window. A crash DURING
    the v=N state append leaves a marker-less (no _SUCCESS), possibly
    content-mangled _v=N directory; the replayed fold must ignore the
    partial (list_state_versions skips marker-less dirs), read the
    pre-batch snapshot, and recommit v=N — final state equal to a clean
    three-batch fold for EVERY member that shares guarded_fold: the
    ordered folds (ema, cusum, twap, holt), the frontier fold (skyline)
    and the additive sinks (mart, cms, kmv, census). The other half of
    the window — v=N committed but the streaming checkpoint offset not —
    is the replay-noop already pinned by the per-member identity
    tests."""
    import os

    from etl_pipeline_last_fm_spark.operators.incremental import (
        additive_state,
        present,
    )
    from etl_pipeline_last_fm_spark.operators.segments import (
        present_twap_state,
        time_weighted_avg,
        twap_fold_batch,
    )
    from etl_pipeline_last_fm_spark.operators.sketch import cms_counters, kmv_state
    from etl_pipeline_last_fm_spark.operators.skyline import (
        skyline_2d,
        skyline_fold_batch,
    )
    from etl_pipeline_last_fm_spark.operators.text import token_census
    from etl_pipeline_last_fm_spark.operators.timeseries import (
        cusum_alarms,
        cusum_fold_batch,
        ema_fold_batch,
        ema_halflife,
        holt_fold_batch,
        holt_linear,
        present_holt_state,
    )
    from etl_pipeline_last_fm_spark.streaming.drift import census_fold_batch
    from etl_pipeline_last_fm_spark.streaming.kmv_stream import kmv_fold_batch
    from etl_pipeline_last_fm_spark.streaming.marts import mart_fold_batch
    from etl_pipeline_last_fm_spark.streaming.sketch import cms_fold_batch

    def union_of(slices):
        out = slices[0]
        for s in slices[1:]:
            out = out.unionByName(s)
        return out

    ev = _ema_slices(spark)
    cusum_kw = dict(drift_cents=100, threshold_cents=400)
    toks = [s.select(F.col("user_id").cast("string").alias("tok")) for s in ev]
    pts = [
        s.select(
            "event_id",
            F.col("user_id").alias("cost"),
            F.round(F.col("value") * 100).cast("long").alias("gain"),
        )
        for s in ev
    ]
    docs = [
        spark.createDataFrame(rows, "doc_id long, source string, text string")
        for rows in ([(1, "a", "x x y"), (2, "b", "x z")],
                     [(3, "a", "y z")],
                     [(4, "c", "p q"), (5, "b", "q x")])
    ]

    def ident(df):
        return df

    # (name, slices, fold_fn, present, one-shot over the union)
    members = [
        ("ema", ev, ema_fold_batch,
         lambda st: st.select("key", "n_events", "ema_cents"),
         lambda u: ema_halflife(u)),
        ("cusum", ev, lambda st, b: cusum_fold_batch(st, b, **cusum_kw),
         lambda st: st.select(
             "key", "n_events", "cusum_final", "cusum_max", "n_alarms"),
         lambda u: cusum_alarms(u, **cusum_kw)),
        ("twap", ev, twap_fold_batch, present_twap_state,
         lambda u: time_weighted_avg(u)),
        ("holt", ev, holt_fold_batch, present_holt_state,
         lambda u: holt_linear(u)),
        ("skyline", pts,
         lambda st, b: skyline_fold_batch(st, b, "event_id", "cost", "gain",
                                          bucket_width=1),
         ident,
         lambda u: skyline_2d(u, "event_id", "cost", "gain", bucket_width=1)),
        ("mart", ev, lambda st, b: mart_fold_batch(st, b, ["user_id"], "value"),
         lambda st: present(st, ["user_id"]),
         lambda u: present(additive_state(u, ["user_id"], "value"),
                           ["user_id"])),
        ("cms", toks, cms_fold_batch, ident, lambda u: cms_counters(u, "tok")),
        ("kmv", ev, lambda st, b: kmv_fold_batch(st, b, "value", ["user_id"]),
         ident, lambda u: kmv_state(u, "value", ["user_id"])),
        ("census", docs, census_fold_batch, ident, token_census),
    ]
    for name, slices, fold, present_fn, one_shot in members:
        path = str(tmp_path / name)
        guarded_fold(slices[0], 0, path, fold)
        guarded_fold(slices[1], 1, path, fold)
        guarded_fold(slices[2], 2, path, fold)
        # "crash mid-append": v=2 loses its _SUCCESS marker and a part
        # file — a torn write no reader may trust.
        v2 = tmp_path / name / "_v=2"
        os.remove(v2 / "_SUCCESS")
        for f in os.listdir(v2):
            if f.startswith("part-"):
                os.remove(v2 / f)
                break
        # restart replays batch 2: the guard must NOT see the partial as
        # applied, and the fold must read the v<2 snapshot, not the torn dir.
        guarded_fold(slices[2], 2, path, fold)
        got = sorted(map(tuple, present_fn(read_state(spark, path)).collect()))
        want = sorted(map(tuple, one_shot(union_of(slices)).collect()))
        assert got, name
        assert got == want, name
        # the recommitted v=2 is whole again (marker restored)
        assert (v2 / "_SUCCESS").exists(), name


def test_single_state_crash_before_first_commit_replays_clean(spark, tmp_path):
    """Degenerate corner of the same window: the very FIRST fold (no
    committed version at all) crashes mid-append. The replay must fold
    from empty, not trip the legacy-layout tripwire or read the torn
    v=0."""
    import os

    from etl_pipeline_last_fm_spark.operators.timeseries import ema_fold_batch

    slices = _ema_slices(spark)
    path = str(tmp_path / "ema0")
    guarded_fold(slices[0], 0, path, ema_fold_batch)
    v0 = tmp_path / "ema0" / "_v=0"
    os.remove(v0 / "_SUCCESS")
    guarded_fold(slices[0], 0, path, ema_fold_batch)  # replay from empty
    got = sorted(
        map(tuple, read_state(spark, path)
            .select("key", "n_events", "ema_cents").collect())
    )
    assert got == _want_ema(spark, [slices[0]])
