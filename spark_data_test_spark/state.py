"""Crash-safe versioned parquet state tables (library surface).

The durability primitive every incremental piece of this engine shares:
the CDC apply, the streaming session store, the HLL rollup fold, the
late-data count store, and IVF centroid staging all commit through
``write_state_version`` and recover through ``read_state_table``.

Model: a state root holds ``v0, v1, ...`` directories; a version exists
only once Spark's ``_SUCCESS`` marker lands, so readers never observe a
partial write and a crashed writer's leftovers are invisible (and
cleaned by the next commit). ``retain > 1`` keeps a time-travel window
of committed snapshots — pinned-version reads power snapshot diffs
(`state_time_travel_diff`) exactly like Delta/Iceberg retention.

Historically these lived in ``streaming/windows.py``; they are
re-exported there for compatibility and from the package root as
public API.
"""

import errno
import os
import sys
import time

# Retention convention for the two kinds of state table this engine
# commits (VERDICT r10 item 6): a SNAPSHOT table (each commit replaces
# the previous — centroids, session stores) retains a small N for time
# travel; a LOG table (v0 base + per-batch deltas read back through
# ``read_state_union`` — minhash band indexes, IVF posting lists)
# retains EVERYTHING, because a finite retain would silently prune the
# base version out from under every later probe. ``RETAIN_ALL`` is the
# grep-able name for that second contract; ``compact_state_versions``
# is the space lever that folds a log back into one snapshot. A log
# with UPDATE semantics (rows tagged via ``read_state_union``'s
# ``version_col`` and resolved latest-wins) supports DELETES the LSM
# way; every persisted index runs that lifecycle through
# ``spark_data_test_spark.index_log``: `commit_tombstones` appends the
# tombstone rows the resolver recognizes, and `commit_view` compacts by
# committing the RESOLVED view — never the generic
# ``compact_state_versions``, which would freeze superseded rows and
# tombstones at one version and break the latest-wins read.
RETAIN_ALL = sys.maxsize


def fresh_run_root(kind, key="", base="/tmp/spark_graft_runs", ttl_seconds=3600):
    """Per-run scratch root that OUTLIVES the call that created it, so a
    query can return a LAZY frame over files it wrote (state tables,
    foreachBatch sinks) instead of ``collect()``-ing them ahead of a
    finally-``rmtree`` — the consumer reads the frame after the function
    returns, and nothing per-key ever materializes on the driver.

    Lifecycle: roots live under ``base/kind/md5(key)``; each call prunes
    sibling roots older than ``ttl_seconds`` (mtime) and returns a fresh
    uuid-named root. Age-based pruning keeps CONCURRENT runs of the same
    query safe — they never share or delete each other's live root — while
    bounding scratch garbage to one TTL window."""
    import hashlib
    import shutil
    import uuid

    digest = hashlib.md5(str(key).encode()).hexdigest()[:12]
    parent = f"{base}/{kind}/{digest}"
    os.makedirs(parent, exist_ok=True)
    now = time.time()
    for name in os.listdir(parent):
        path = f"{parent}/{name}"
        try:
            stale = now - os.path.getmtime(path) > ttl_seconds
        except OSError:
            stale = False  # concurrently pruned by another run
        if stale:
            shutil.rmtree(path, ignore_errors=True)
    root = f"{parent}/{uuid.uuid4().hex[:12]}"
    os.makedirs(root)
    return root


def _committed_state_version(state_path):
    """Highest committed version under a versioned state root, or None.
    A version directory counts only with Spark's _SUCCESS marker — a
    crash mid-write leaves an uncommitted directory that is simply
    ignored (and cleaned) by the next writer."""
    if not os.path.isdir(state_path):
        return None
    best = None
    for name in os.listdir(state_path):
        if name.startswith("v") and name[1:].isdigit():
            if os.path.exists(f"{state_path}/{name}/_SUCCESS"):
                v = int(name[1:])
                best = v if best is None or v > best else best
    return best


def read_state_table(spark, state_path, version=None):
    """Read a versioned state table: the latest COMMITTED version by
    default, or an exact pinned ``version`` (time travel — requires
    the writer to have retained it, see ``write_state_version``).
    Missing state means first batch (None); a PINNED version that is
    missing or uncommitted raises — time-travel readers must not
    silently get a different snapshot than they asked for."""
    if version is None:
        version = _committed_state_version(state_path)
        if version is None:
            return None
    elif not os.path.exists(f"{state_path}/v{version}/_SUCCESS"):
        raise FileNotFoundError(
            f"state version v{version} not committed under {state_path}"
        )
    return spark.read.parquet(f"{state_path}/v{version}")


def read_state_union(
    spark, state_path, version_col=None, allow_missing_columns=False
):
    """LOG-STRUCTURED read path: the union of EVERY committed version
    under the root — the view a delta-commit writer's readers need
    (v0 a base snapshot, later versions per-batch deltas, as the
    streaming incremental dedup commits them). Tolerant of a pruned
    prefix: after `compact_state_versions` folds the log into one
    snapshot, only the surviving committed versions are unioned.
    Missing state means first batch (None). With ``version_col`` each
    row carries the LONG version number it was committed in, so a
    reader can resolve re-committed keys latest-wins (max version per
    key) instead of keeping arbitrary duplicates — the LSM read rule.
    ``allow_missing_columns`` forwards to ``unionByName`` so a reader
    whose log schema GREW across releases (e.g. the ANN index logs
    gaining ``build_id``) can resolve old versions with NULLs instead
    of dying in the union; leave it False for tables whose schema is
    fixed, where a mismatch is a bug that must surface."""
    cur = _committed_state_version(state_path)
    if cur is None:
        return None
    out = None
    for v in range(cur + 1):
        if not os.path.exists(f"{state_path}/v{v}/_SUCCESS"):
            continue
        part = spark.read.parquet(f"{state_path}/v{v}")
        if version_col is not None:
            from pyspark.sql import functions as F

            part = part.withColumn(
                version_col, F.lit(v).cast("long")
            )
        out = (
            part
            if out is None
            else out.unionByName(
                part, allowMissingColumns=allow_missing_columns
            )
        )
    return out


def compact_state_versions(spark, state_path, retain=1):
    """Fold a log-structured state root into one snapshot: commit the
    union of every committed version as the NEXT version and prune the
    log behind it (``retain`` keeps a time-travel window of the newest
    snapshots, as in `write_state_version`). The LSM compaction step
    that bounds the per-read version count a delta-commit writer
    accumulates; crash-safe for the same reason every commit is — the
    union lands as an ordinary next version, so a reader either sees
    the old log or the folded snapshot, never half of either. Returns
    the committed snapshot version, or None for missing state."""
    union = read_state_union(spark, state_path)
    if union is None:
        return None
    return write_state_version(union, state_path, retain=retain)


def write_state_version(df, state_path, retain=1):
    """Durably advance a versioned state table: write version n+1 into
    a private scratch directory, then atomically ``rename`` it to
    ``v{n+1}`` (the previous version stays intact and readable until
    the rename lands), then prune versions beyond the newest
    ``retain`` plus stale scratch leftovers. Crash-safe at every
    point: an incomplete write is invisible to readers, and the retried
    batch re-reads the old committed version. The scratch-then-rename
    commit also makes CONCURRENT writers safe: two processes racing on
    the same version each write into their own scratch tree (no shared
    ``_temporary`` under one destination), and POSIX refuses to rename
    onto a non-empty directory, so exactly one rename wins — the loser
    observes the collision, discards its scratch, and retries at the
    next version so its rows are never silently dropped or mixed.
    ``retain > 1`` keeps a time-travel window (the snapshot-retention
    dial every table format exposes; state growth is bounded by
    retain x table size). Convention: SNAPSHOT tables pass a small
    ``retain``; LOG tables (read back via ``read_state_union``) pass
    ``RETAIN_ALL`` — a finite retain on a log would prune the base
    version out from under later probes; `compact_state_versions` is
    the space lever. Returns the committed version number."""
    import shutil
    import uuid

    scratch = f"{state_path}/.staging-{uuid.uuid4().hex[:12]}"
    df.write.mode("overwrite").parquet(scratch)  # _SUCCESS lands in scratch
    try:
        while True:
            cur = _committed_state_version(state_path)
            nxt = 0 if cur is None else cur + 1
            dest = f"{state_path}/v{nxt}"
            # a leftover UNCOMMITTED v{nxt} (crashed pre-rename writer
            # under the old protocol) would block the rename forever
            if os.path.isdir(dest) and not os.path.exists(f"{dest}/_SUCCESS"):
                shutil.rmtree(dest, ignore_errors=True)
            try:
                os.rename(scratch, dest)
                break
            except OSError as e:
                # lost the race: a concurrent writer committed v{nxt}
                # first — loop and commit ours as the next version.
                # Anything other than a dest-collision errno (perms,
                # read-only fs, cross-device) would spin forever here,
                # so re-raise it instead.
                if e.errno not in (
                    errno.ENOTEMPTY,
                    errno.EEXIST,
                    errno.ENOTDIR,
                    errno.EISDIR,
                ):
                    raise
                continue
    except BaseException:
        shutil.rmtree(scratch, ignore_errors=True)
        raise
    for name in os.listdir(state_path):
        if name.startswith("v") and name[1:].isdigit():
            v = int(name[1:])
            committed = os.path.exists(f"{state_path}/{name}/_SUCCESS")
            if (committed and v <= nxt - retain) or (not committed and v != nxt):
                shutil.rmtree(f"{state_path}/{name}", ignore_errors=True)
        elif name.startswith(".staging-") and f"{state_path}/{name}" != scratch:
            # orphaned scratch from a crashed writer; the 1 h age guard
            # keeps a LIVE concurrent writer's in-flight scratch safe
            try:
                stale = time.time() - os.path.getmtime(f"{state_path}/{name}") > 3600
            except OSError:
                stale = False
            if stale:
                shutil.rmtree(f"{state_path}/{name}", ignore_errors=True)
    return nxt
