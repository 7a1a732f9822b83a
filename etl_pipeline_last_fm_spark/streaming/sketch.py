"""Stream fold drivers (foreachBatch merge) and the sketch folds.

Every streaming fold in the package runs through this module:
``fold_stream`` wires a stream to ``guarded_fold`` (one micro-batch:
replay guard -> ``fold_fn(state, batch)`` -> versioned commit), and
``read_state`` reads the result back. A member only supplies its
``fold_fn``: the ordered folds (operators/timeseries.py, segments.py,
skyline.py) and the additive sinks (marts, sketches, censuses), whose
fold is ``merge(state, make(batch))``.

The sketch states in operators/sketch.py are mergeable DataFrames:
- HLL registers merge by MAX per (group, bucket);
- CMS grids merge by SUM per (depth, cell).
That associativity is exactly what incremental maintenance needs: each
micro-batch computes its own tiny sketch, then folds it into a persisted
state table with one bounded merge — no reprocessing of history, state
size fixed at |groups|·m registers (HLL) / d·w cells (CMS) forever.

Replay safety: foreachBatch is AT-LEAST-ONCE — after a failure Structured
Streaming re-runs the last micro-batch with the SAME batch_id. HLL's max
merge is naturally idempotent, but a CMS sum (or a mart count) folded twice
silently inflates. ``guarded_fold`` therefore persists the last applied
batch_id inside the state itself (constant ``__bid`` column, written in the
SAME parquet commit as the data so marker and state cannot diverge) and
no-ops when a replayed batch_id <= last applied. This relies on Structured
Streaming's per-query monotonically increasing batch ids and the
single-writer guarantee; multi-writer state needs a transactional table
format (same caveat as the idempotent sink).

This is the foreachBatch pattern (same as streaming/ingest.py's idempotent
merge): the batch DataFrame is sketched with the SAME operator code the
batch engine uses, so stream-maintained state provably equals the batch
sketch of the union of all micro-batches (tested in tests/test_sketch.py
and tests/test_zorder_wsample.py, including a double-fold replay case).

Scale: per micro-batch cost is one partial+final aggregate of the batch
plus a merge against a kilobyte-scale state table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from etl_pipeline_last_fm_spark.operators.sketch import cms_counters

#: Constant column carrying the last applied micro-batch id in every
#: persisted state row. Written atomically with the data (one parquet
#: commit), read back by the replay guard; stripped by ``read_state``.
BID_COL = "__bid"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path, jvm) for any Spark path scheme (file://, hdfs://,
    s3a://...). All state-layout probing goes through the Hadoop FS API —
    a driver-local os.path check silently reports False for every remote
    URI, which would make each batch overwrite the accumulated state with
    its own partial."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def list_state_versions(spark: SparkSession, root: str) -> list[tuple[int, str]]:
    """Committed state snapshots under ``root``, ascending by batch_id.
    A snapshot counts as committed only once its ``_SUCCESS`` marker
    exists — a crash mid-write leaves a marker-less directory that every
    reader ignores. Directory names start with ``_`` so a stray
    ``spark.read.parquet(root)`` fails loudly (Spark skips underscore
    children) instead of silently unioning every snapshot."""
    fs, jroot, jvm = _hadoop_fs(spark, root)
    if not fs.exists(jroot):
        return []
    out: list[tuple[int, str]] = []
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("_v=")):
            continue
        try:
            bid = int(name[3:])
        except ValueError:
            continue
        if fs.exists(jvm.org.apache.hadoop.fs.Path(st.getPath(), "_SUCCESS")):
            out.append((bid, str(st.getPath())))
    if not out:
        # Legacy-layout tripwire (ADVICE r5 item 3): a pre-versioning state
        # directory holds bare parquet part files at the root. Returning []
        # would silently treat a populated durable state as "first batch"
        # and restart the fold from empty — silent data loss. Fail loudly
        # and point at the one-shot migration instead.
        for st in fs.listStatus(jroot):
            name = st.getPath().getName()
            if st.isFile() and name.startswith("part-"):
                raise ValueError(
                    f"state root {root!r} holds a flat (pre-versioning) "
                    "parquet snapshot; migrate once with: "
                    "commit_state(spark.read.parquet(root_tmp), root, "
                    "batch_id=-1) after moving the old files to root_tmp"
                )
    return sorted(out)


def commit_state(state_df: DataFrame, root: str, batch_id: int,
                 retain: int = 2) -> None:
    """Crash-safe state commit: write the new snapshot to its OWN
    versioned directory (``root/_v=<batch_id>``), then prune snapshots
    older than the newest ``retain``. The previous snapshot is deleted
    only AFTER the new one's ``_SUCCESS`` exists, so at every instant at
    least one complete copy of the state is on disk — the mode("overwrite")
    -over-the-only-copy crash window this replaces destroyed the
    accumulated state if the writer died mid-commit. Overwrite semantics
    apply only WITHIN a version: a replay that crashed mid-write re-runs
    with the same batch_id and clobbers its own partial, never a committed
    older snapshot. The write target is never the read source, so no
    localCheckpoint is needed to defuse the read-what-you-overwrite trap
    (lineage is one snapshot deep by construction: prev parquet + batch)."""
    spark = state_df.sparkSession
    target = f"{root.rstrip('/')}/_v={int(batch_id)}"
    state_df.write.mode("overwrite").parquet(target)
    for _bid, p in list_state_versions(spark, root)[:-max(1, int(retain))]:
        fs, jp, _ = _hadoop_fs(spark, p)
        fs.delete(jp, True)


def _read_state_or_none(spark: SparkSession, path: str) -> DataFrame | None:
    """Latest committed state snapshot, or None before the first commit."""
    versions = list_state_versions(spark, path)
    if not versions:
        return None
    return spark.read.parquet(versions[-1][1])


def _strip_bid(df: DataFrame) -> DataFrame:
    return df.drop(BID_COL) if BID_COL in df.columns else df


def read_state(spark: SparkSession, path: str) -> DataFrame:
    """The latest committed state under ``path`` without its replay
    marker — the one reader of every fold's state (present it with the
    member's own ``present_*`` / ``*_from_census`` function). Raises if
    no commit has landed yet."""
    prev = _read_state_or_none(spark, path)
    if prev is None:
        raise FileNotFoundError(f"no committed state snapshot under {path}")
    return _strip_bid(prev)


def last_applied_batch(prev: DataFrame | None) -> int:
    """Highest batch_id folded into a state table (-1 if none/legacy)."""
    if prev is None or BID_COL not in prev.columns:
        return -1
    row = prev.agg(F.max(BID_COL).alias("b")).first()
    return -1 if row is None or row["b"] is None else int(row["b"])


def _read_state_before(
    spark: SparkSession, path: str, batch_id: int
) -> DataFrame | None:
    """Latest committed snapshot with version < batch_id — the pre-batch
    state, stable under replays (see guarded_fold)."""
    versions = [(b, p) for b, p in list_state_versions(spark, path)
                if b < batch_id]
    if not versions:
        return None
    return spark.read.parquet(versions[-1][1])


def guarded_fold(
    batch_df: DataFrame, batch_id: int, state_path: str, fold_fn
) -> None:
    """Fold ONE micro-batch into the state at ``state_path`` — the
    single-state protocol, defined once for every member:
    ``fold_fn(state_or_None, batch_df)`` -> the new state DataFrame
    (the ordered folds pass ``ema_fold_batch`` & co. directly; the
    additive sinks return ``merge(state, make(batch))``). The replay
    guard is the state's own batch_id, and the pre-batch snapshot is
    read at the latest version STRICTLY BEFORE batch_id (the join fold's
    crash-window rule) so a replayed fold sees exactly what the original
    saw. An empty micro-batch still commits (advancing the guard) and
    leaves every key's state unchanged.

    Crash windows (tested in test_streaming_ivm.py for every member):
    (1) a crash DURING the v=N append leaves a marker-less _v=N dir that
    list_state_versions ignores — the replay's guard sees v<N as latest,
    re-folds from the pre-batch snapshot, and overwrite-recommits v=N;
    (2) a crash AFTER the v=N commit but BEFORE the streaming
    checkpoint's offset commit replays batch N against a state whose
    guard already records N — a no-op. There is no window in which a
    batch can fold twice or a committed snapshot can be lost (at every
    instant one complete _SUCCESS-marked copy exists, commit_state's
    invariant)."""
    spark = batch_df.sparkSession
    prev = _read_state_or_none(spark, state_path)
    if int(batch_id) <= last_applied_batch(prev):
        return  # replayed micro-batch, already folded
    before = _read_state_before(spark, state_path, int(batch_id))
    state = _strip_bid(before) if before is not None else None
    commit_state(
        fold_fn(state, batch_df).withColumn(BID_COL, F.lit(int(batch_id))),
        state_path,
        batch_id,
    )


def fold_stream(
    stream: DataFrame,
    state_path: str,
    fold_fn,
    checkpoint: str | None = None,
    protocol=guarded_fold,
):
    """Maintain a folded state over a stream: every micro-batch runs
    ``protocol(batch_df, batch_id, state_path, fold_fn)``. Returns a
    DataStreamWriter — the caller picks the trigger and calls
    ``.start()``; read the state with ``read_state``. The protocol is
    ``guarded_fold`` for every single-state member; the multi-state ones
    plug in the same way (streaming/ivm.py ``_two_state_stream_fold``,
    whose fold_fn returns (key state, totals delta), and
    ``join_fold_batch``, whose fourth argument is the join keys)."""
    writer = stream.writeStream.foreachBatch(
        lambda batch_df, batch_id: protocol(
            batch_df, batch_id, state_path, fold_fn
        )
    )
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def merge_cms_grids(a: DataFrame, b: DataFrame) -> DataFrame:
    """Cellwise sum of two CMS counter grids (associative, commutative)."""
    return (
        a.unionByName(b)
        .groupBy("__d", "__cell")
        .agg(F.sum("__cnt").alias("__cnt"))
    )


def cms_fold_batch(
    state: DataFrame | None,
    batch: DataFrame,
    token_col: str = "tok",
    depth: int = 4,
    width: int = 1024,
    salt: str = "cms1",
) -> DataFrame:
    """Sum one batch's CMS grid into the state. Under ``guarded_fold``
    the replay guard matters here: CMS sums are not idempotent, unlike
    HLL maxima."""
    grid = cms_counters(batch, token_col, depth=depth, width=width, salt=salt)
    return grid if state is None else merge_cms_grids(state, grid)


def merge_hll_registers(a: DataFrame, b: DataFrame, group_cols: list[str]) -> DataFrame:
    """Register-wise MAX of two HLL register tables (associative,
    commutative, idempotent — replayed batches cannot inflate the
    estimate, unlike CMS sums; the batch_id guard still applies for
    uniformity and to skip wasted work)."""
    return (
        a.unionByName(b)
        .groupBy(*group_cols, "__bkt")
        .agg(F.max("__mj").alias("__mj"))
    )


def hll_fold_batch(
    state: DataFrame | None,
    batch: DataFrame,
    value_col: str,
    group_cols: list[str],
    b: int = 6,
    salt: str = "hll1",
) -> DataFrame:
    """Max one batch's per-group HLL registers into the state. The state
    is the full sketch — |groups| * 2^b rows forever — and
    ``hll_estimate_from_registers`` over ``read_state(...)`` turns it
    into counts on demand."""
    from etl_pipeline_last_fm_spark.functions.scalar import portable_hash60
    from etl_pipeline_last_fm_spark.operators.sketch import _hll_rank

    m = 1 << b
    width = 60 - b
    h = portable_hash60(
        F.concat(F.lit(salt), F.lit(":"), F.col(value_col).cast("string"))
    )
    regs = (
        batch.select(
            *group_cols,
            h.bitwiseAND(F.lit(m - 1)).alias("__bkt"),
            _hll_rank(F.shiftright(h, b), width).alias("__mj"),
        )
        .groupBy(*group_cols, "__bkt")
        .agg(F.max("__mj").alias("__mj"))
    )
    return regs if state is None else merge_hll_registers(state, regs, group_cols)
