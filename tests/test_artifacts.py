"""Artifact-store lifecycle (VERDICT r5 item 7): input fingerprints in
the cache key (a mutated corpus can never be served a stale artifact),
the ``base_dir`` deployment hook, per-key build locks, and the prebuilt
IVF/MinHash indexes that live in the store."""
from __future__ import annotations

import os
import shutil
import tempfile
import threading

import duckdb
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from data_engineer_interview_task_spark.plans import artifacts


def _build_counter(spark, tag):
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.createDataFrame([(1, tag)], "id long, tag string")

    return calls, build


def test_mutated_input_triggers_rebuild(spark, sf_dir):
    # a private mutable copy of one corpus table
    src = os.path.join(sf_dir, "documents.parquet")
    work = tempfile.mkdtemp(prefix="artifact-input-")
    copy = os.path.join(work, "documents.parquet")
    if os.path.isdir(src):
        shutil.copytree(src, copy)
        mutate_target = os.path.join(
            copy, sorted(f for f in os.listdir(copy) if not f.startswith("."))[0]
        )
    else:
        shutil.copy(src, copy)
        mutate_target = copy

    calls, build = _build_counter(spark, "v1")
    key = ("test_fp_rebuild", work)
    df1 = artifacts.materialized(spark, key, "test_art_", build, inputs=(copy,))
    assert df1.count() == 1 and calls["n"] == 1
    # same key + unchanged input -> served from cache, no rebuild
    artifacts.materialized(spark, key, "test_art_", build, inputs=(copy,)).count()
    assert calls["n"] == 1
    # in-place mutation (append a byte -> size+mtime both move)
    with open(mutate_target, "ab") as f:
        f.write(b"\x00")
    artifacts.materialized(spark, key, "test_art_", build, inputs=(copy,)).count()
    assert calls["n"] == 2, "mutated input must invalidate the cached artifact"
    shutil.rmtree(work)


def test_restart_reuses_finished_artifact_and_prunes_superseded(spark):
    """ADVICE r6: deterministic hash-named dirs + completion marker mean
    a process restart (simulated by clearing the in-memory cache) scans
    the finished artifact instead of rebuilding, and a fingerprint
    change deletes the superseded dir after the replacement lands."""
    base = tempfile.mkdtemp(prefix="artifact-persist-")
    work = tempfile.mkdtemp(prefix="artifact-input-")
    inp = os.path.join(work, "in.bin")
    with open(inp, "wb") as f:
        f.write(b"v1")
    calls, build = _build_counter(spark, "persist")
    key = ("test_restart_reuse",)
    artifacts.materialized(
        spark, key, "test_art_", build, inputs=(inp,), base_dir=base
    ).count()
    assert calls["n"] == 1
    # simulated restart: in-memory cache gone, on-disk artifact remains
    artifacts._CACHE.clear()
    artifacts.materialized(
        spark, key, "test_art_", build, inputs=(inp,), base_dir=base
    ).count()
    assert calls["n"] == 1, "restart must reuse the finished artifact"
    assert len(os.listdir(base)) == 1
    # input mutation: rebuild; a FRESH superseded dir is RETAINED for the
    # prune grace window (ADVICE r7 — a concurrent process may still hold
    # it in its cache) ...
    with open(inp, "ab") as f:
        f.write(b"\x00")
    artifacts.materialized(
        spark, key, "test_art_", build, inputs=(inp,), base_dir=base
    ).count()
    assert calls["n"] == 2
    assert len(os.listdir(base)) == 2, (
        "fresh superseded artifact must survive the prune grace window"
    )
    # ... and is pruned once older than the grace window: backdate the
    # superseded dir, trigger one more fingerprint change
    import time as _time

    old = _time.time() - artifacts._PRUNE_GRACE_SEC - 60
    for d in os.listdir(base):
        os.utime(os.path.join(base, d), (old, old))
    with open(inp, "ab") as f:
        f.write(b"\x00")
    artifacts.materialized(
        spark, key, "test_art_", build, inputs=(inp,), base_dir=base
    ).count()
    assert calls["n"] == 3
    assert len(os.listdir(base)) == 1, (
        "superseded artifacts past the grace window must be pruned"
    )
    # torn write (marker missing) is rebuilt in place on next access
    artifacts._CACHE.clear()
    art = os.path.join(base, os.listdir(base)[0])
    os.remove(os.path.join(art, artifacts._MARKER))
    artifacts.materialized(
        spark, key, "test_art_", build, inputs=(inp,), base_dir=base
    ).count()
    assert calls["n"] == 4, "missing completion marker must force rebuild"
    shutil.rmtree(base)
    shutil.rmtree(work)


def test_base_dir_places_artifacts(spark):
    base = tempfile.mkdtemp(prefix="artifact-base-")
    calls, build = _build_counter(spark, "based")
    artifacts.materialized(
        spark, ("test_base_dir",), "test_art_", build, base_dir=base
    ).count()
    assert calls["n"] == 1
    subdirs = [d for d in os.listdir(base) if d.startswith("test_art_")]
    assert subdirs, "artifact must land under base_dir"
    shutil.rmtree(base)


def test_first_builds_of_different_keys_do_not_serialize(tmp_path):
    """A build of key A blocked mid-way must not hold up key B."""
    started, release = threading.Event(), threading.Event()

    def slow(path):
        os.makedirs(path)
        started.set()
        release.wait(60)

    def fast(path):
        os.makedirs(path)

    base = str(tmp_path)
    a = threading.Thread(
        target=artifacts.staged_dir,
        args=(("test_lock_a",), "test_lock_", slow),
        kwargs={"base_dir": base},
    )
    a.start()
    try:
        assert started.wait(60)
        b = threading.Thread(
            target=artifacts.staged_dir,
            args=(("test_lock_b",), "test_lock_", fast),
            kwargs={"base_dir": base},
        )
        b.start()
        b.join(60)
        assert not b.is_alive(), "key B waited on the build of key A"
        assert a.is_alive()
    finally:
        release.set()
        a.join(60)


def _rewrite_with_subset(path: str, keep) -> None:
    """Overwrite a single-file parquet table in place with a row subset."""
    table = pq.read_table(path)
    subset = table.filter(keep(table))
    assert 0 < subset.num_rows < table.num_rows
    pq.write_table(subset, path)


def _oracle_rows(sf_dir: str, table: str, name: str) -> list[tuple]:
    import __spark_entry__ as entry

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{sf_dir}/{table}.parquet')"
    )
    return sorted(con.execute(entry.oracle_sql()[name]).fetchall())


def _copy_table(sf_dir: str, table: str, dst) -> str:
    os.makedirs(dst)
    shutil.copy(f"{sf_dir}/{table}.parquet", os.path.join(dst, f"{table}.parquet"))
    return str(dst)


def test_ivf_index_rebuilt_after_embeddings_rewritten(spark, sf_dir, tmp_path):
    from data_engineer_interview_task_spark.operators import similarity

    sfx = _copy_table(sf_dir, "embeddings", tmp_path / "sfx")
    name = "similarity_topk_ivf_prebuilt"

    def run() -> list[tuple]:
        out = similarity.ivf_topk_prebuilt(spark, sfx).collect()
        return sorted(tuple(r) for r in out)

    assert run() == _oracle_rows(sfx, "embeddings", name)
    _rewrite_with_subset(
        f"{sfx}/embeddings.parquet",
        lambda t: pc.equal(pc.bit_wise_and(t["vec_id"], 1), 0),
    )
    assert run() == _oracle_rows(sfx, "embeddings", name)


def test_minhash_index_rebuilt_after_documents_rewritten(spark, sf_dir, tmp_path):
    from data_engineer_interview_task_spark.operators import dedup

    sfx = _copy_table(sf_dir, "documents", tmp_path / "sfx")
    name = "incremental_minhash_dedup"

    def run() -> list[tuple]:
        out = dedup.incremental_minhash_dedup(spark, sfx).collect()
        return sorted(tuple(r) for r in out)

    before = run()
    assert before == _oracle_rows(sfx, "documents", name)
    # drop every corpus-side doc of the current pairs (batch docs stay)
    corpus_docs = sorted({r[1] for r in before})
    assert corpus_docs
    _rewrite_with_subset(
        f"{sfx}/documents.parquet",
        lambda t: pc.invert(pc.is_in(t["doc_id"], pa.array(corpus_docs))),
    )
    assert run() == _oracle_rows(sfx, "documents", name)
