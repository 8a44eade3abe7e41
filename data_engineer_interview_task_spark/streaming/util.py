"""Shared micro-batch harness plumbing.

:func:`run_available_now` is the one run block every memory-sink
``run_*_once`` harness goes through: it starts the harness's streaming
frame into a uuid-named memory sink with a fresh per-sink checkpoint
under ``work_dir``, runs it with an ``availableNow`` trigger
(process-everything-then-stop), optionally inside the
:func:`state_partition_window` conf window, and returns the drained
result. Harnesses that need a different writer (the file-sink restart
of the incremental late audit, the ``processAllAvailable`` Python
DataSource feeds) use the conf window on its own.

:func:`staged_custom` stages a corpus table as a FileStreamSource feed
through the one artifact store (``plans.artifacts.staged_dir``): keyed
on the input's fingerprint, published atomically, shared by every run
in the process.

Why results are drained rather than returned as ``spark.table(sink)``:
a lazy sink frame keeps the sink's driver-held row buffer AND its temp
view alive for the life of the session. In a shared session (the
driver's correctness sweep, bench.py, check_oracle) those buffers
accumulate: a complete-mode session-window sink holds ~1M rows at sf1,
and twelve streaming queries × repeated runs turned into GC pressure
that inflated UNRELATED queries' wall time (measured:
streaming_session_window 3.6s in a fresh session vs 31s late in a
12-run session — the same failure class bench.py's clearCache() fixed
for persisted blocks).
"""

from __future__ import annotations

import contextlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

#: Env dial for the state-store partition count (production override).
STATE_PARTITIONS_ENV = "SPARK_GRAFT_STREAM_STATE_PARTITIONS"
#: Floor when the derived count is not overridden — KB-scale state needs
#: exactly enough partitions to not serialize the two-instance commit.
STATE_PARTITIONS_FLOOR = 2
#: Input bytes per state partition when deriving from source volume.
#: State for these harnesses (windowed aggregates, join buffers bounded
#: by the watermark horizon) is a bounded fraction of the input, so the
#: staged source size is the cheap, always-available proxy; 64 MiB per
#: partition keeps each store's snapshot small while never exceeding the
#: session's core count.
STATE_TARGET_BYTES = 64 * 1024 * 1024


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.stat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


def state_partitions(spark: SparkSession, src: str | None = None) -> str:
    """State-store partition count for an availableNow harness reading
    ``src`` (guide §2: partitions sized to data/state volume, never to
    core count). Resolution order:

    1. ``$SPARK_GRAFT_STREAM_STATE_PARTITIONS`` — the deployment dial;
    2. derived: ``clamp(src_bytes / STATE_TARGET_BYTES,
       STATE_PARTITIONS_FLOOR, defaultParallelism)`` — every micro-batch
       pays a snapshot/commit per state-store INSTANCE regardless of row
       count (a stream-stream join keeps four instances per partition;
       measured at sf0.1: a 4-row batch cost 5.5-6.6s at 8 partitions),
       so KB-state harnesses want the floor, while GB-state deployments
       get one partition per ~64 MiB of input without ever exceeding
       the session's parallelism;
    3. no ``src`` (e.g. the paged python-datasource feed, whose state is
       a single offset row): the floor.

    Returned as ``str`` for ``spark.conf.set``."""
    env = os.environ.get(STATE_PARTITIONS_ENV)
    if env:
        return env
    n = STATE_PARTITIONS_FLOOR
    if src is not None and os.path.isdir(src):
        derived = _dir_bytes(src) // STATE_TARGET_BYTES
        cores = spark.sparkContext.defaultParallelism
        n = max(STATE_PARTITIONS_FLOOR, min(int(derived), cores))
    return str(n)


@contextlib.contextmanager
def state_partition_window(spark: SparkSession, src: str | None):
    """Run the enclosed streaming query under ``state_partitions(spark,
    src)`` shuffle partitions, restoring the prior value on exit.

    A stateful micro-batch query pays one state-store snapshot/commit
    per shuffle partition (four per partition for a stream-stream join)
    on EVERY batch regardless of row count: at the session's 32
    partitions an outer join paid 128 commits, ~3.5s per batch, for
    batches of four rows (OPTIMIZATION_r12.md). The count is pinned into
    the query's checkpoint when it first starts, so the window must be
    open while the query starts (and, for a restart, while it restarts)
    and must open AFTER the harness's last ``read_table`` /
    ``prep_session``, which reset the session confs."""
    conf_key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(conf_key)
    spark.conf.set(conf_key, state_partitions(spark, src))
    try:
        yield
    finally:
        spark.conf.set(conf_key, prior)


def snapshot_parquet_files(src: str) -> set[str]:
    """Names of the parquet part files currently in ``src`` — take before
    an append-write, pass to :func:`bump_new_files_mtime` after."""
    return {f for f in os.listdir(src) if f.endswith(".parquet")}


def bump_new_files_mtime(src: str, before: set[str]) -> None:
    """Force every parquet file NOT in ``before`` to a modification time
    strictly later than everything already in ``src``. FileStreamSource
    orders micro-batches by mtime; back-to-back writes can land with
    equal stamps, leaving the batch order — and any order-sensitive
    state semantics — undefined. An explicit bump replaces the old
    ``time.sleep(1.1)`` spacing (2.2s of pure wall per harness run)."""
    newest = max(
        os.path.getmtime(os.path.join(src, f)) for f in before
    )
    later = newest + 10.0
    for f in os.listdir(src):
        if f.endswith(".parquet") and f not in before:
            os.utime(os.path.join(src, f), (later, later))


def staged_custom(
    spark, sf_dir: str, name: str, build, input_table: str = "events"
) -> str:
    """Path of the staged feed ``name`` for ``sf_dir``, written by
    ``build(path)`` through ``plans.artifacts.staged_dir``: at most once
    per process per ``input_table`` fingerprint, published atomically,
    and removed if ``build`` raises.

    Staging — copying a corpus table into a FileStreamSource-readable
    layout — is per-run SETUP, not the measured streaming computation:
    each run still starts a FRESH checkpoint and replays the full
    micro-batch pipeline from the staged files."""
    from ..plans.artifacts import staged_dir

    return staged_dir(
        (sf_dir, name),
        f"stream_src_{name}_",
        build,
        inputs=(f"{sf_dir}/{input_table}.parquet",),
    )


def _stage_plain(spark: SparkSession, sf_dir: str, path: str) -> None:
    from ..sources import read_table

    read_table(spark, sf_dir, "events").write.parquet(path)


def _stage_flushed(spark: SparkSession, sf_dir: str, path: str) -> None:
    from ..sources import read_table
    from .weekly import EVENTS_SCHEMA

    events = read_table(spark, sf_dir, "events")
    events.repartition(1).write.parquet(path)
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    before = snapshot_parquet_files(path)
    flush = spark.createDataFrame(
        [
            (-1, max_ts, -1, "click", 0.0, "{}"),
            (-2, max_ts, -1, "purchase", 0.0, "{}"),
        ],
        schema=EVENTS_SCHEMA,
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 10 DAYS"))
    flush.coalesce(1).write.mode("append").parquet(path)
    bump_new_files_mtime(path, before)


_EVENT_STAGINGS = {"plain": _stage_plain, "flushed": _stage_flushed}


def staged_events(spark: SparkSession, sf_dir: str, flavor: str = "plain") -> str:
    """:func:`staged_custom` copy of the ``events`` table for the
    streaming harnesses, one per flavor:

    - ``plain``: the events table as written by one plain write — the
      input for the stateless / aggregate harnesses.
    - ``flushed``: ONE bulk file (repartition(1)) plus one strictly
      newer flush file holding a ``max(ts)+10d`` sentinel per join side
      — the outer-join / join-rollup completeness protocol (see
      ``joins._run_outer_join_once``); ``maxFilesPerTrigger=1`` then
      yields the bulk batch, the watermark-advancing flush batch, and
      the trailing no-data batch.
    """
    if flavor not in _EVENT_STAGINGS:
        raise ValueError(f"unknown staging flavor: {flavor}")
    stage = _EVENT_STAGINGS[flavor]
    return staged_custom(
        spark, sf_dir, f"events_{flavor}", lambda path: stage(spark, sf_dir, path)
    )


def drain_memory_sink(spark: SparkSession, sink: str) -> DataFrame:
    """Move a memory sink's rows out of the driver-held sink buffer and
    release the sink: eagerly materialize to a localCheckpoint (executor
    blocks, freed by the ContextCleaner when the returned frame is
    GC'd), then drop the sink's temp view so the buffer itself becomes
    collectable."""
    out = spark.table(sink).localCheckpoint(eager=True)
    spark.catalog.dropTempView(sink)
    return out


def run_available_now(
    spark: SparkSession,
    df: DataFrame,
    work_dir: str,
    mode: str,
    state_src: str | None = None,
) -> DataFrame:
    """Run the streaming frame ``df`` to completion and return its
    output as a batch frame: a uuid-named memory sink in output ``mode``,
    a fresh checkpoint at ``{work_dir}/ckpt_{sink}``, and an
    ``availableNow`` trigger.

    ``state_src``: the staged source dir of a stateful harness — the
    query then runs inside :func:`state_partition_window` sized to that
    source's volume. ``None`` leaves the session's shuffle partitions
    untouched (the pandas-fold and stateless harnesses, where the
    window measured no gain — OPTIMIZATION_r12.md). Because ``df`` is
    built before this call, the window always opens after the caller's
    last ``read_table`` / ``prep_session``. A query that fails leaves
    neither the conf change nor the sink's temp view behind."""
    sink = f"mem_{uuid.uuid4().hex[:12]}"
    window = (
        contextlib.nullcontext()
        if state_src is None
        else state_partition_window(spark, state_src)
    )
    with window:
        try:
            (
                df.writeStream.format("memory")
                .queryName(sink)
                .outputMode(mode)
                .option("checkpointLocation", f"{work_dir}/ckpt_{sink}")
                .trigger(availableNow=True)
                .start()
                .awaitTermination()
            )
        except BaseException:
            spark.catalog.dropTempView(sink)
            raise
    return drain_memory_sink(spark, sink)
