"""The one process-level store for derived tables and staged directories
("artifacts").

Several operator families share one expensive corpus-derived table — the
co-purchase edge list (graph analytics), word-n-gram shingle sets and
MinHash band keys (the dedup family), SimHash signatures, bottom-k
chargram sketches. Recomputing such a table inside every consuming query
is the wrong 100 TB design: a production deployment persists these as
warehouse tables, refreshed with the corpus, and every analytic SCANS
them (getting parquet column pruning / predicate pushdown for free,
surviving sessions and executor restarts). Non-tabular derived
directories follow the same lifecycle: the persisted IVF and MinHash
indexes and the streaming harnesses' staged FileStreamSource feeds.

Two entry points, one lifecycle:

- :func:`staged_dir` builds a directory with ``build(tmp)`` at most once
  per key per input state and returns its path;
- :func:`materialized` is ``staged_dir`` over a parquet write, returning
  a DataFrame scanning the artifact.

In-memory ``persist()`` cannot provide this sharing: caller unpersist
hygiene (ADVICE r4) means every CALL pays the full build, and cached
blocks add executor-storage pressure that a parquet artifact does not.

The cache key must include every parameter that changes the artifact's
CONTENT (source dir, n, hash family, ...) plus an INPUT FINGERPRINT:
callers pass the source paths via ``inputs`` and the store folds each
path's recursive (file count, total bytes, max mtime) into the key, so a
corpus that is mutated in place is never served a stale artifact.
Callers materializing inputs that mutate *within* a build should still
bypass this store (see ``minhash_index_append`` for the mutable-index
path).

Locking is per key: the first build of one key never waits on the build
of another, and a build that consumes another artifact (band keys built
from the shingle table) takes that artifact's own lock.

Artifacts land under ``base_dir`` (parameter, else
``$SPARK_GRAFT_ARTIFACT_DIR``, else a fresh tempdir) — a warehouse
deployment points this at its managed derived-table location so
artifacts survive process restarts and participate in the warehouse's
retention policy.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import threading
import time
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession

#: full key -> published artifact dir (process-level).
_CACHE: dict[tuple, str] = {}
#: full key -> the lock serializing that key's first build; registered
#: with the atomic ``dict.setdefault``, so the registry needs no lock.
_LOCKS: dict[tuple, threading.Lock] = {}
#: lazily-created fallback root when no base_dir/env root is configured
#: (one per process, so even ephemeral artifacts get deterministic names)
_TMP_ROOT: list[str] = []

#: completion marker inside a finished artifact dir (written AFTER the
#: parquet write, holding the full key) — a dir without it is a torn
#: write from a killed process and is rebuilt in place.
_MARKER = "_ARTIFACT_SUCCESS"

#: superseded-fingerprint dirs younger than this are NOT pruned
#: (ADVICE r7): another live process sharing a persistent
#: SPARK_GRAFT_ARTIFACT_DIR may still hold the old dir in its _CACHE;
#: the grace window bounds how long a doomed dir lingers without ever
#: deleting one a concurrent reader plausibly still scans.
_PRUNE_GRACE_SEC = 6 * 3600


def _stable_hash(obj) -> str:
    """Deterministic short hash of a key tuple (strings/ints/tuples), the
    same across processes — what makes on-disk artifact names stable."""
    return hashlib.sha256(repr(obj).encode()).hexdigest()[:16]


def input_fingerprint(path: str) -> tuple:
    """Cheap content-change detector for a source file or directory:
    recursive (file count, total bytes, max mtime_ns). Any in-place
    mutation — appended file, rewritten part file, added partition —
    moves at least one component; scanning metadata only (no reads), it
    costs milliseconds even on a multi-thousand-file corpus dir."""
    n_files = 0
    total = 0
    max_mtime = 0
    if os.path.isfile(path):
        st = os.stat(path)
        return (1, st.st_size, st.st_mtime_ns)
    for root, _dirs, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(root, f))
            n_files += 1
            total += st.st_size
            if st.st_mtime_ns > max_mtime:
                max_mtime = st.st_mtime_ns
    return (n_files, total, max_mtime)


def _artifact_root(base_dir: str | None) -> str:
    root = base_dir or os.environ.get("SPARK_GRAFT_ARTIFACT_DIR")
    if not root:
        if not _TMP_ROOT:
            _TMP_ROOT.append(tempfile.mkdtemp(prefix="spark_graft_artifacts_"))
        root = _TMP_ROOT[0]
    os.makedirs(root, exist_ok=True)
    return root


def _publish(tmp: str, path: str) -> None:
    """Rename the finished ``tmp`` onto ``path`` (ADVICE r7): two
    processes sharing a persistent root never interleave writes INTO one
    final dir — the loser's rename fails on the existing target and it
    adopts the winner's artifact. The target is cleared only when the
    rename fails AND the target still lacks its marker (a torn dir from a
    dead process); clearing first could delete a concurrent process's
    artifact that completed in between (ADVICE r8)."""
    try:
        os.rename(tmp, path)
    except OSError:
        if not os.path.exists(os.path.join(path, _MARKER)):
            shutil.rmtree(path, ignore_errors=True)  # torn
            try:
                os.rename(tmp, path)
                return
            except OSError:
                pass  # lost a second race; the winner's dir is complete
        shutil.rmtree(tmp, ignore_errors=True)


def _prune_superseded(root: str, stem: str, path: str) -> None:
    """Delete the other fingerprint dirs of one logical key — and their
    siblings, e.g. a staged feed's ``_index`` — once past the grace
    window, so a persistent root holds one artifact per logical key."""
    now = time.time()
    current = os.path.basename(path)
    for d in os.listdir(root):
        full = os.path.join(root, d)
        if (
            d.startswith(stem)
            and not d.startswith(current)
            and "__build_" not in d
            and now - os.path.getmtime(full) > _PRUNE_GRACE_SEC
        ):
            shutil.rmtree(full, ignore_errors=True)


def staged_dir(
    key: tuple,
    prefix: str,
    build: Callable[[str], None],
    inputs: Iterable[str] = (),
    base_dir: str | None = None,
) -> str:
    """Path of the directory artifact for ``key``, building it with
    ``build(tmp)`` on first use — at most once per process per input
    state. ``build`` must create ``tmp``; concurrent first uses of one
    key wait for a single build, other keys proceed.

    ``inputs``: source paths whose fingerprints join the key — a mutated
    input triggers a rebuild instead of serving the stale artifact.
    ``base_dir``: where artifacts land (module docstring).

    On-disk lifecycle (ADVICE r6): the directory is named
    ``{prefix}{hash(key)}_{hash(fingerprints)}``, built in a sibling
    ``.__build_`` dir that is removed if ``build`` raises, marked
    complete with ``_ARTIFACT_SUCCESS``, and published by
    :func:`_publish`. A restarted process (or a second process sharing a
    persistent ``SPARK_GRAFT_ARTIFACT_DIR``) reuses a marked dir, and a
    dir without the marker is rebuilt. The marker's leading ``_`` hides
    it from Spark's batch and FileStreamSource listings."""
    fps = tuple(input_fingerprint(p) for p in inputs)
    full_key = (prefix, key, fps)
    with _LOCKS.setdefault(full_key, threading.Lock()):
        path = _CACHE.get(full_key)
        if path is not None:
            return path
        root = _artifact_root(base_dir)
        stem = f"{prefix}{_stable_hash(key)}_"
        path = os.path.join(root, f"{stem}{_stable_hash(fps)}")
        if not os.path.exists(os.path.join(path, _MARKER)):
            tmp = f"{path}.__build_{os.getpid()}_{threading.get_ident()}"
            try:
                build(tmp)
                with open(os.path.join(tmp, _MARKER), "w") as fh:
                    fh.write(repr(full_key))
            except BaseException:
                shutil.rmtree(tmp, ignore_errors=True)
                raise
            _publish(tmp, path)
            _prune_superseded(root, stem, path)
        _CACHE[full_key] = path
    return path


def materialized(
    spark: SparkSession,
    key: tuple,
    prefix: str,
    build: Callable[[], DataFrame],
    inputs: Iterable[str] = (),
    base_dir: str | None = None,
    partition_by: tuple[str, ...] = (),
) -> DataFrame:
    """A DataFrame scanning the parquet artifact ``build()`` writes,
    through :func:`staged_dir`. ``partition_by``: hive-layout the
    artifact on these columns, so consumers filtering/joining on them
    get partition pruning (static or dynamic) on every scan."""

    def write(tmp: str) -> None:
        build().write.partitionBy(*partition_by).parquet(tmp)

    return spark.read.parquet(staged_dir(key, prefix, write, inputs, base_dir))
