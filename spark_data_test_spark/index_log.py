"""Versioned index log: the one lifecycle behind every persisted index.

A persisted index is a set of model SNAPSHOT tables (IVF centroids, a
PQ codebook) plus one LOG table under the same root, all committed
through `state.write_state_version`. The build commits the models and
the log's base version; ingest appends deltas; delete appends
tombstone rows; compact commits the resolved view as a fresh base.
Readers resolve the log LATEST-WINS: every row carries the version it
was committed in (``_pv``), each id keeps the row of its newest
version, and tombstone winners drop after the resolve — so a delete
older than a re-ingest is superseded, and a re-ingest after a delete
resurrects the id.

Every live log row is stamped with the content hash of the model(s)
it was built against (``build_id``, `model_build_hash`) and the
stamp-formula version (``stamp_fmt``). Probes verify the stamp on the
rows they scan (`stamp_guard`); every append first checks the newest
live row (`assert_log_stamp`). A rebuild that crashed between its
model and log commits therefore fails loudly instead of scoring old
rows against a new model.

`IndexLog` describes one vector family's log (IVF-Flat, PQ, IVF-PQ);
its methods are the whole lifecycle, and the family keeps only its
scoring and batch-shape code. The MinHash band index shares the
tombstone writer and the resolved-view commit (`commit_tombstones`,
`commit_view`) but keeps its own merge rule, because its log holds
many rows per document.
"""

import os
from dataclasses import dataclass
from functools import reduce
from operator import xor
from typing import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from spark_data_test_spark.state import (
    RETAIN_ALL,
    _committed_state_version,
    read_state_table,
    read_state_union,
    write_state_version,
)

# Build-stamp FORMULA version, persisted as `stamp_fmt` alongside
# `build_id` on every stamped log row: probes can then tell "committed
# under an older formula — rebuild to migrate" apart from genuine
# crashed-rebuild corruption, and any future formula change bumps this
# constant. History: 1 = bare bit_xor of per-row xxhash64 (rounds <=
# 15, never persisted — those logs carry no stamp_fmt column and
# resolve to NULL); 2 = xxhash64(xor, count, masked sum) (round 16+,
# see `build_hash_expr`; the column itself lands in round 17, so a
# NULL stamp_fmt means a round-16-or-earlier writer). NULL therefore
# covers TWO populations: round-16 logs were stamped under formula 2
# and verify cleanly, while <= r15 logs carry formula-1 stamps and trip
# `stamp_guard` with its predates-versioning diagnosis.
STAMP_FMT = 2


def release_pin(df):
    """Best-effort release of an eager ``localCheckpoint`` pin's blocks:
    the checkpointed RDD is not in the cache manager, so
    ``df.unpersist()`` cannot reach it and the blocks otherwise live
    until the ContextCleaner garbage-collects the frame. The analyzed
    plan of a localCheckpoint IS the LogicalRDD wrapping the
    checkpointed RDD; unpersist that RDD directly. Only ever called
    AFTER the final read of the pin, and best-effort by design: a Py4J
    surface change degrades back to the GC backstop, never fails a
    build that already committed.

    VERSION PIN: this reaches classic-mode Py4J internals —
    ``_jdf.queryExecution().analyzed()`` and the ``LogicalRDD`` class
    name — which are Spark 3.5/4.x-classic surface, not public API;
    re-verify the pytest pin (tests/test_pq_index_api.py) on any Spark
    version bump. Under Spark Connect there is no ``_jdf``, so release
    is an intentional no-op and the server's ContextCleaner remains
    the only reclaim path."""
    if not hasattr(df, "_jdf"):
        return  # Spark Connect frame: no Py4J plan handle exists
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getName().endswith("LogicalRDD"):
            plan.rdd().unpersist(False)
    except Exception:
        pass  # GC/ContextCleaner remains the backstop


def build_hash_expr(cols):
    """The build-stamp aggregate as a SQL expression string, so probes
    that fold the expected stamp into an EXISTING model agg (no extra
    action) evaluate the exact formula `model_build_hash` stamps with."""
    rh = f"xxhash64({', '.join(cols)})"
    return f"xxhash64(bit_xor({rh}), count(*), sum({rh} & 2147483647))"


def model_build_hash(model, cols):
    """Order-independent content hash of a small model frame —
    ``xxhash64(xor, count, masked sum)`` over per-row xxhash64s of the
    named columns (`build_hash_expr`). Every build stamps this hash of
    the model(s) it committed into its log rows, and every probe
    recomputes it from the COMMITTED model(s). The hash identifies
    model CONTENT, not the build event: an identical retrain re-stamps
    identically, which is right — its rows are valid. One model-sized
    aggregate, no corpus touch.

    A bare bit_xor is multiplicity-blind (pairs of identical rows
    cancel, so a doubled table hashes like an empty one); the count
    and a masked per-row hash SUM fold multiplicity in, and an empty
    model hashes the fixed (NULL, 0, NULL) triple. Each row hash is
    masked to 31 bits so the long sum cannot overflow before ~2^32
    rows."""
    row = model.agg(F.expr(build_hash_expr(cols)).alias("h")).first()
    return 0 if row is None or row.h is None else int(row.h)


def stamp(frame, build_id):
    """``frame`` plus the build stamp columns every live log row
    carries: the model content hash and the current `STAMP_FMT`."""
    return frame.withColumn("build_id", F.lit(int(build_id))).withColumn(
        "stamp_fmt", F.lit(STAMP_FMT).cast("integer")
    )


def stamp_guard(frame, payload_col, expected, op, live):
    """Scan-side build-stamp check (the `assert_true` idiom — no extra
    action): rewrites ``payload_col`` so any resolved LIVE row whose
    ``build_id`` differs from the committed model's content hash raises
    during the probe's own scan. NULL stamps on live rows also trip
    (eqNullSafe). The ``live`` predicate is part of the guard
    CONDITION, not just an upstream filter, because the optimizer may
    elide a redundant tombstone filter (e.g. under a posexplode) and
    the guard must never fire on a tombstone's NULL stamp.

    The error is diagnosed via ``stamp_fmt``: a live row carrying a
    known-but-different formula version raises the migration message;
    a same-version or NULL-version mismatch raises the crashed-rebuild
    message (NULL means the row predates stamp-format versioning, where
    the two cases are indistinguishable)."""
    mismatch = live & ~F.col("build_id").eqNullSafe(F.lit(int(expected)))
    foreign_fmt = F.col("stamp_fmt").isNotNull() & (
        F.col("stamp_fmt") != F.lit(STAMP_FMT)
    )
    msg = F.when(
        foreign_fmt,
        F.concat(
            F.lit(f"{op}: log rows are stamped under stamp-format "),
            F.col("stamp_fmt").cast("string"),
            F.lit(
                f" but this release checks format {STAMP_FMT} — an"
                " older/newer formula, NOT corruption; re-run the"
                " build at this index path to migrate the stamps"
            ),
        ),
    ).otherwise(
        F.lit(
            f"{op}: committed model and log rows carry different"
            " build stamps — a rebuild crashed between its commits,"
            " or (NULL stamp_fmt) the log predates build stamping /"
            " stamp-format versioning (pre-r16 logs used the"
            " bare-bit_xor formula; r16 logs carry no format column);"
            " re-run the build at this index path"
        )
    )
    return frame.withColumn(
        payload_col,
        F.when(mismatch, F.assert_true(F.lit(False), msg)).otherwise(
            F.col(payload_col)
        ),
    )


def assert_log_stamp(spark, log_path, expected, op, live):
    """Crashed-rebuild gate for every LOG-APPENDING path at O(newest
    live row), not O(index): walk the committed versions NEWEST FIRST
    and verify the first live row found carries the committed model's
    content hash. `stamp_guard` alone cannot gate a commit — a
    cell-pruned (or empty) answer may evaluate no pre-existing row, and
    one append landing on a crashed-rebuild log would stamp a NEW-model
    delta on top of an all-old-stamped log, blinding this gate's
    newest-live-row witness for good (and the same-path rebuild that
    repairs the index would then discard the appended rows). A crashed
    rebuild leaves the ENTIRE existing log stamped under the old model,
    so the newest live row alone witnesses it. ``live`` is the
    non-tombstone predicate (tombstones carry NULL stamps and prove
    nothing). On an ingest cadence the newest version IS the previous
    delta, so this reads one batch-sized file; tombstone-only deltas
    step back one version. A log with no live row anywhere cannot
    contradict the model — appending is safe."""
    cur = _committed_state_version(log_path)
    if cur is None:
        return
    for v in range(int(cur), -1, -1):
        if not os.path.exists(f"{log_path}/v{v}/_SUCCESS"):
            continue
        part = spark.read.parquet(f"{log_path}/v{v}")
        if "build_id" not in part.columns:
            # pre-stamping release wrote this version: its live rows
            # resolve with NULL stamps, which every probe rejects
            part = part.withColumn("build_id", F.lit(None).cast("long"))
        row = part.where(live()).select("build_id").first()
        if row is None:
            continue  # tombstone-only delta: step back one version
        if row.build_id is None or int(row.build_id) != int(expected):
            raise ValueError(
                f"{op}: the committed model and the newest live log"
                " rows carry different build stamps — a rebuild"
                " crashed between its commits, or the log predates"
                " build stamping; re-run the build at this index path"
                " before appending (appending now would stamp new rows"
                " under a model the existing log was not built"
                " against, and the rebuild that repairs the index"
                " would discard them)"
            )
        return


def dedup_ids(corpus, id_col, vec_col):
    """One row per id, deterministically: a batch (or corpus) may carry
    the same id twice with DIFFERENT vectors; both would land in ONE
    commit version, where the latest-wins resolve ties arbitrarily.
    Keep the greatest (squared-norm, vector) pair per id — norm first
    so a zero-norm duplicate can never outrank a live vector and then
    silently vanish in the IVF families' zero-norm drop; vector order
    (arrays are orderable) breaks exact-norm ties."""
    v = F.col(vec_col)
    n2 = F.expr(
        f"aggregate({vec_col}, cast(0.0 as double), (a, x) -> a + x * x)"
    )
    return (
        corpus.select(
            F.col(id_col).alias(id_col),
            F.col(vec_col).cast("array<double>").alias(vec_col),
        )
        .where(v.isNotNull())
        .groupBy(id_col)
        .agg(F.max_by(vec_col, F.struct(n2, v)).alias(vec_col))
    )


def commit_view(view, log_path):
    """Compaction: commit a log's RESOLVED view as its next version and
    prune every older one. Never the generic `compact_state_versions`,
    which folds the raw union and would freeze superseded rows and
    tombstones at one version. Returns the committed version, or None
    when there is no log (``view`` None)."""
    if view is None:
        return None
    return write_state_version(view, log_path, retain=1)


def commit_tombstones(
    spark, index_path, ids, id_col, key, tomb, op, log=None, stamped=False
):
    """Commit one tombstone row per distinct id as the next delta of
    the log at ``index_path/log`` (``index_path`` itself when ``log``
    is None) — the LSM delete. ``ids`` is an iterable of id values or a
    DataFrame whose ``id_col`` holds them; ``key`` is the log's id
    column and ``tomb`` the ``(column, value)`` payload a tombstone
    carries, each cast to the committed log's type. A ``stamped`` log's
    tombstones carry NULL ``build_id``/``stamp_fmt`` (they never
    survive resolution), and a stamped log without a ``build_id``
    column predates stamping and must be rebuilt first. Deleting an
    unknown id is a harmless no-op. Returns the committed version."""
    log_path = f"{index_path}/{log}" if log else index_path
    build = op.replace("_delete", "_build")
    base = read_state_table(spark, log_path)
    if base is None:
        raise ValueError(
            f"{op}: no committed {log or 'index'} at {index_path}"
            f" (run {build} first)"
        )
    types = {f.name: f.dataType for f in base.schema.fields}
    if stamped and "build_id" not in types:
        raise ValueError(
            f"{op}: the log at {index_path} predates build"
            f" stamping (committed by an earlier release) — re-run"
            f" {build} to upgrade it before deleting"
        )
    if isinstance(ids, DataFrame):
        idf = ids.select(F.col(id_col).alias(key)).distinct()
    else:
        ids = list(ids)
        if not ids:
            raise ValueError(f"{op}: empty id set")
        idf = spark.createDataFrame([(i,) for i in ids], [key]).distinct()
    cols = [F.col(key).cast(types[key])]
    cols += [F.lit(v).cast(types[c]).alias(c) for c, v in tomb]
    if stamped:
        cols += [
            F.lit(None).cast(types["build_id"]).alias("build_id"),
            F.lit(None).cast("integer").alias("stamp_fmt"),
        ]
    return write_state_version(idf.select(*cols), log_path, retain=RETAIN_ALL)


@dataclass(frozen=True)
class IndexLog:
    """One vector family's persisted log and its lifecycle.

    Calling the spec, ``spec(spark, index_path)``, returns the
    resolved LATEST-WINS view of the log (None when no log is
    committed); with ``expect_build`` every surviving row's stamp is
    verified scan-side (`stamp_guard`). The family supplies:

    - ``family``: the op prefix (``ivf`` -> ``ivf_index_probe`` ...),
    - ``log``: the log subdirectory (``postings`` or ``codes``),
    - ``models``: ``(subdirectory, hash columns)`` per model snapshot,
      in stamp order (the stamp XORs their content hashes),
    - ``models_noun``: how the half-built-index error names them,
    - ``payload``: the log's columns besides ``vec_id`` and the stamp,
    - ``guarded``: the payload column `stamp_guard` rewrites,
    - ``tomb``: the tombstone row's ``(column, value)`` payload; its
      first entry is the tombstone marker,
    - ``live``: ``() -> Column``, the non-tombstone predicate,
    - ``model_row``: ``(*models) -> (expected stamp, shape)``, the
      models' combined content hash folded into the model-sized agg
      that also reads the shape the batch checks need,
    - ``batch``: ``(deduped batch, shape, op, id_col, vec_col) ->``
      the validated internal ``(_id, _v, ...)`` frame, or None for a
      batch emptied by its filters,
    - ``rows``: ``(batch, models, id_col, vec_col) ->`` the unstamped
      log rows one ingest delta commits."""

    family: str
    log: str
    models: tuple
    models_noun: str
    payload: tuple
    guarded: str
    tomb: tuple
    live: Callable
    model_row: Callable
    batch: Callable
    rows: Callable

    def __call__(self, spark, index_path, expect_build=None, op=None):
        log = self._union(spark, index_path)
        if log is None:
            return None
        # pre-stamping logs lack build_id and round <= 16 logs lack
        # stamp_fmt: resolve them as NULL so the guard reads the rows
        # as stale (or, for r16, verifies them under the same formula)
        for col, typ in (("build_id", "long"), ("stamp_fmt", "integer")):
            if col not in log.columns:
                log = log.withColumn(col, F.lit(None).cast(typ))
        cols = (*self.payload, "build_id", "stamp_fmt")
        out = (
            log.groupBy("vec_id")
            .agg(F.max_by(F.struct(*cols), F.col("_pv")).alias("_p"))
            .select("vec_id", *[f"_p.{c}" for c in cols])
            .where(self.live())
        )
        if expect_build is not None:
            out = stamp_guard(out, self.guarded, expect_build, op, self.live())
        return out

    def _union(self, spark, index_path):
        return read_state_union(
            spark,
            f"{index_path}/{self.log}",
            version_col="_pv",
            allow_missing_columns=True,
        )

    def _models(self, spark, index_path, op=None):
        """The committed model snapshots; with ``op``, a missing one
        raises the no-committed-index error."""
        models = [
            read_state_table(spark, f"{index_path}/{name}")
            for name, _ in self.models
        ]
        if op is not None and any(m is None for m in models):
            raise ValueError(
                f"{op}: no committed index at {index_path}"
                f" (run {self.family}_index_build first)"
            )
        return models

    def _half_built(self, op, index_path):
        return ValueError(
            f"{op}: index at {index_path} has {self.models_noun} but no"
            f" committed {self.log} (re-run {self.family}_index_build)"
        )

    def build(self, index_path, models, make_rows):
        """Pin -> stamp -> commit: ``models`` is ``(frame, pinned)``
        per model in spec order; unpinned frames are pinned here with
        an eager localCheckpoint so each evaluates exactly ONCE — the
        log rows, the stamp and the commit all read the same rows, so
        a nondeterministic injected model can never leave rows built
        under a different evaluation than probes will read. Frames
        already pinned (a `pq_train` result) are used as they are.
        ``make_rows(*pins)`` gives the unstamped log rows.

        Both commits land at the END, models first: models are
        SNAPSHOT tables (retain=2 keeps the previous one for time
        travel); the log BASE commits with retain=1, so a same-path
        rebuild RESETS the log (old rows mean nothing under new
        models) and later deltas accumulate from it under RETAIN_ALL.
        A mid-build failure leaves the old index serving; a crash
        between the commits is caught by the stamp checks. Every pin
        is released after the final commit on success and failure
        alike (localCheckpoint is non-reliable storage: losing an
        executor mid-build fails the build loudly). Returns the
        number of log rows committed."""
        owned = [frame for frame, pinned in models if pinned]
        try:
            pins = []
            for frame, pinned in models:
                if not pinned:
                    frame = frame.localCheckpoint(eager=True)
                    owned.append(frame)
                pins.append(frame)
            bid = reduce(
                xor,
                (
                    model_build_hash(pin, cols)
                    for pin, (_, cols) in zip(pins, self.models)
                ),
            )
            rows = stamp(make_rows(*pins), bid).persist()
            try:
                n = rows.count()
                os.makedirs(index_path, exist_ok=True)
                for pin, (name, _) in zip(pins, self.models):
                    write_state_version(pin, f"{index_path}/{name}", retain=2)
                write_state_version(rows, f"{index_path}/{self.log}", retain=1)
            finally:
                rows.unpersist()
            return n
        finally:
            for pin in owned:
                release_pin(pin)

    def open(self, spark, index_path, op):
        """Probe entry: ``(models, expected stamp, shape, guarded
        resolved view)``, raising when the models or the log are not
        committed."""
        models = self._models(spark, index_path, op)
        expected, shape = self.model_row(*models)
        live = self(spark, index_path, expected, op)
        if live is None:
            raise self._half_built(op, index_path)
        return models, expected, shape, live

    def commit_probe(self, spark, index_path, op, expected, result, rows):
        """The ``commit=True`` tail of a probe: gate the append on the
        newest live row's stamp BEFORE materializing the answer (a
        cell-pruned answer may evaluate no pre-existing row, so the
        scan-side guard alone cannot stop a new-stamped delta landing
        on a crashed-rebuild log), pin the answer so the commit never
        re-evaluates it, then append ``rows()`` stamped as the next
        delta. The pinned answer is CALLER-owned (`release_model_pin`)."""
        log_path = f"{index_path}/{self.log}"
        assert_log_stamp(spark, log_path, expected, op, self.live)
        result = result.localCheckpoint(eager=True)
        write_state_version(
            stamp(rows(), expected), log_path, retain=RETAIN_ALL
        )
        return result

    def ingest(self, batch, index_path, id_col, vec_col):
        """Append ``batch`` without answering a query: the delta is the
        one ``commit=True`` probes commit (same id collapse, batch
        checks, rows and stamp), gated by `assert_log_stamp`. A
        degenerate batch — empty, or emptied by the family's filters —
        is a no-op. Returns the number of rows committed."""
        op = f"{self.family}_index_ingest"
        spark = batch.sparkSession
        models = self._models(spark, index_path, op)
        log_path = f"{index_path}/{self.log}"
        if read_state_table(spark, log_path) is None:
            # a build crashed between its commits — refuse to graft
            # deltas onto half an index
            raise self._half_built(op, index_path)
        expected, shape = self.model_row(*models)
        assert_log_stamp(spark, log_path, expected, op, self.live)
        d = dedup_ids(batch, id_col, vec_col).persist()
        try:
            # empty-batch no-op BEFORE the batch checks, which raise
            # on an empty frame
            if d.first() is None:
                return 0
            q = self.batch(d, shape, op, id_col, vec_col)
            if q is None:
                return 0
            delta = stamp(
                self.rows(q, models, id_col, vec_col), expected
            ).persist()
            try:
                n = delta.count()
                if n:
                    write_state_version(delta, log_path, retain=RETAIN_ALL)
            finally:
                delta.unpersist()
            return n
        finally:
            d.unpersist()

    def delete(self, spark, index_path, ids, id_col):
        """Tombstone ``ids`` (`commit_tombstones`); the resolve drops
        them from every later probe and `compact` reclaims them."""
        return commit_tombstones(
            spark,
            index_path,
            ids,
            id_col,
            "vec_id",
            self.tomb,
            f"{self.family}_index_delete",
            log=self.log,
            stamped=True,
        )

    def compact(self, spark, index_path):
        """Fold the log into its resolved view (`commit_view`)."""
        return commit_view(
            self(spark, index_path), f"{index_path}/{self.log}"
        )

    def stats(self, spark, index_path, live_stats, columns):
        """The log side of ``*_index_stats``: raw log volume
        (``n_log_rows``, ``n_versions``, ``n_tombstones``) and the
        committed models' ``model_hash``. ``live_stats(spark,
        resolved, stale, models)`` gives the family's one-row live
        aggregate first, then any further one-row frames (model
        shape); ``stale`` flags live rows stamped under a different
        build. ``columns`` orders the output (``n_tombstones`` and
        ``model_hash`` are filled in here). Stats MEASURE damage, they
        never raise: a log whose models are missing reads out with
        ``model_hash`` NULL and every live row stale. All aggregates
        run distributed; one summary row reaches the driver. Returns
        None for a missing log."""
        log = self._union(spark, index_path)
        if log is None:
            return None
        models = self._models(spark, index_path)
        if any(m is None for m in models):
            model_hash, stale = F.lit(None).cast("long"), F.lit(True)
        else:
            model_hash = F.lit(
                reduce(
                    xor,
                    (
                        model_build_hash(m, cols)
                        for m, (_, cols) in zip(models, self.models)
                    ),
                )
            ).cast("long")
            stale = ~F.col("build_id").eqNullSafe(model_hash)
        live, *extra = live_stats(
            spark, self(spark, index_path), stale, models
        )
        marker, value = self.tomb[0]
        tombs = (
            F.col(marker).isNull()
            if value is None
            else F.col(marker) == F.lit(value)
        )
        raw = log.agg(
            F.count(F.lit(1)).alias("n_log_rows"),
            F.count_distinct("_pv").alias("n_versions"),
            F.sum(tombs.cast("long")).alias("n_tombstones"),
        )
        out = live.crossJoin(F.broadcast(raw))
        for frame in extra:
            out = out.crossJoin(F.broadcast(frame))
        filled = {
            "n_tombstones": F.coalesce("n_tombstones", F.lit(0))
            .cast("long")
            .alias("n_tombstones"),
            "model_hash": model_hash.alias("model_hash"),
        }
        return out.select(
            *[filled.get(c, c) if isinstance(c, str) else c for c in columns]
        )
