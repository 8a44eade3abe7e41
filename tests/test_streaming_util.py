"""The shared streaming harness plumbing in ``streaming/util.py`` and the
harness contracts that depend on it: the availableNow run helper's conf
and sink hygiene, the staging memo's staleness key and atomic publish,
the incremental audit's state sizing, per-call work dirs, and concurrent
dHash maintenance.
"""

from __future__ import annotations

import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from data_engineer_interview_task_spark.streaming import util
from data_engineer_interview_task_spark.streaming.weekly import EVENTS_SCHEMA

CONF = "spark.sql.shuffle.partitions"


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def _copy_table(sf_dir: str, table: str, dst_dir) -> str:
    os.makedirs(dst_dir, exist_ok=True)
    src = f"{sf_dir}/{table}.parquet"
    dst = os.path.join(dst_dir, f"{table}.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, dst)
    else:
        shutil.copy(src, dst)
    return str(dst_dir)


# ------------------------------------------------------ run_available_now


def test_failed_query_restores_conf_and_drops_sink_view(spark, sf_dir, tmp_path):
    src = util.staged_events(spark, sf_dir, "plain")
    boom = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .parquet(src)
        .groupBy("event_type")
        .agg(F.sum(F.col("event_id")).alias("s"))
        .select(
            "event_type",
            F.when(F.col("s") >= 0, F.raise_error(F.lit("boom")))
            .cast("long")
            .alias("s"),
        )
    )
    prior = spark.conf.get(CONF)
    spark.conf.set(CONF, "7")
    views = _temp_views(spark)
    try:
        with pytest.raises(Exception, match="boom"):
            util.run_available_now(
                spark, boom, str(tmp_path), "complete", state_src=src
            )
        assert spark.conf.get(CONF) == "7"
        assert _temp_views(spark) == views
    finally:
        spark.conf.set(CONF, prior)


def test_no_state_src_never_touches_shuffle_partitions(
    spark, sf_dir, tmp_path, monkeypatch
):
    src = util.staged_events(spark, sf_dir, "plain")
    stream = spark.readStream.schema(EVENTS_SCHEMA).parquet(src).select(
        "event_id"
    )
    set_keys = []
    real_set = spark.conf.set

    def spy_set(key, value):
        set_keys.append(key)
        real_set(key, value)

    def no_window(*_a):
        raise AssertionError("state_partitions called without state_src")

    monkeypatch.setattr(spark.conf, "set", spy_set)
    monkeypatch.setattr(util, "state_partitions", no_window)
    out = util.run_available_now(spark, stream, str(tmp_path), "append")
    assert out.count() == spark.read.parquet(src).count() > 0
    assert CONF not in set_keys


# ------------------------------------------------- incremental late audit


def test_incremental_audit_sizes_state_from_populated_stage(
    spark, sf_dir, tmp_path, monkeypatch
):
    """The state-partition count must be derived from a directory that
    already holds the tranches — an empty dir pins the floor forever."""
    from data_engineer_interview_task_spark.streaming.late import (
        run_incremental_late_audit,
    )

    seen = []
    real = util.state_partitions

    def spy(spark_, src=None):
        seen.append((src, util._dir_bytes(src) if src else 0))
        return real(spark_, src)

    monkeypatch.setattr(util, "state_partitions", spy)
    run_incremental_late_audit(spark, sf_dir, str(tmp_path)).collect()
    assert seen, "state_partitions was never consulted"
    assert all(src and n_bytes > 0 for src, n_bytes in seen), seen


# ---------------------------------------------------------- staging memo


def test_late_audit_restages_events_rewritten_in_place(spark, sf_dir, tmp_path):
    """A rewritten events table must be re-staged: the second audit has
    to match the oracle on the NEW rows, not replay the stale source."""
    import __spark_entry__ as entry

    from data_engineer_interview_task_spark.streaming.late import (
        run_late_data_audit_once,
    )

    sfx = _copy_table(sf_dir, "events", tmp_path / "sfx")
    events = f"{sfx}/events.parquet"
    sql = entry.oracle_sql()["streaming_late_data_audit"]

    def oracle() -> list[tuple]:
        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{events}')")
        return sorted(con.execute(sql).fetchall())

    def audit(run: int) -> list[tuple]:
        wd = str(tmp_path / f"wd{run}")
        return sorted(
            tuple(r) for r in run_late_data_audit_once(spark, sfx, wd).collect()
        )

    assert audit(1) == oracle()
    table = pq.read_table(events)
    subset = table.filter(pc.equal(pc.bit_wise_and(table["event_id"], 1), 0))
    assert 0 < subset.num_rows < table.num_rows
    pq.write_table(subset, events)
    second = audit(2)
    assert second == oracle()
    assert sum(r[1] for r in second) == subset.num_rows


def _stage_custom(spark, sfx, fail):
    def build(path):
        spark.range(3 if fail else 5).coalesce(1).write.mode("append").parquet(path)
        if fail:
            raise RuntimeError("interrupted build")

    return util.staged_custom(spark, sfx, "t_atomic", build)


def _stage_materialized(spark, sfx, fail):
    """The failing build's write job itself fails (a task error)."""
    from data_engineer_interview_task_spark.plans import artifacts

    def build():
        df = spark.range(3 if fail else 5).coalesce(1)
        if fail:
            df = df.select(F.raise_error(F.lit("interrupted build")).cast("long"))
        return df

    df = artifacts.materialized(
        spark, ("t_atomic", sfx), "t_atomic_", build, inputs=(f"{sfx}/events.parquet",)
    )
    return os.path.dirname(df.inputFiles()[0].removeprefix("file://"))


def test_staged_custom_failed_build_publishes_nothing(spark, sf_dir, tmp_path):
    """A build that dies partway leaves no files behind, so the retry
    publishes exactly its own rows — for a staged feed and for a
    ``materialized`` table alike."""
    for i, stage in enumerate((_stage_custom, _stage_materialized)):
        sfx = _copy_table(sf_dir, "events", tmp_path / f"sf{i}")
        with pytest.raises(Exception, match="interrupted build"):
            stage(spark, sfx, fail=True)
        path = stage(spark, sfx, fail=False)
        ids = sorted(r.id for r in spark.read.parquet(path).collect())
        assert ids == list(range(5))
        parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
        assert len(parts) == 1
        leftovers = [
            d
            for d in os.listdir(os.path.dirname(path))
            if d.startswith(os.path.basename(path) + ".")
        ]
        assert leftovers == []


# ------------------------------------------------------- per-call work dirs


@pytest.mark.parametrize(
    "name",
    [
        "streaming_incremental_late_audit",
        "streaming_tick_restart_continuity",
        "schema_evolution_read",
    ],
)
def test_result_survives_a_second_call(spark, sf_dir, name):
    """Each call runs in its own work dir: a result collected after a
    later call of the same query has returned still reads correctly."""
    import __spark_entry__ as entry

    run = entry.queries()[name]
    first = run(spark, sf_dir)
    run(spark, sf_dir).collect()
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("events", "documents"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracle = con.execute(entry.oracle_sql()[name])
    cols = [d[0] for d in oracle.description]
    got = sorted(tuple(r) for r in first.select(*cols).collect())
    assert got == sorted(oracle.fetchall())


# ------------------------------------------------------ dHash maintenance


def test_concurrent_dhash_maintenance_calls_share_one_index(
    spark, sf_dir, tmp_path
):
    """Two threads maintaining one feed on one session: both see the
    batch rebuild, and the shared index holds each document once."""
    from data_engineer_interview_task_spark.operators.multimodal import (
        image_perceptual_hashes,
    )
    from data_engineer_interview_task_spark.streaming.images import (
        run_dhash_index_maintenance_once,
    )

    sfx = _copy_table(sf_dir, "documents", tmp_path / "sfd")

    def call(i: int) -> list[tuple]:
        wd = str(tmp_path / f"wd{i}")
        os.makedirs(wd)
        idx = run_dhash_index_maintenance_once(spark, sfx, wd)
        return [(r.doc_id, r.dhash) for r in idx.collect()]

    with ThreadPoolExecutor(max_workers=2) as pool:
        results = list(pool.map(call, range(2), timeout=600))
    want = sorted(
        (r.doc_id, r.dhash) for r in image_perceptual_hashes(spark, sfx).collect()
    )
    assert want
    for got in results:
        assert sorted(got) == want
        assert len({d for d, _ in got}) == len(got)
