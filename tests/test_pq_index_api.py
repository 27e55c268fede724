"""Persisted PQ index lifecycle pins (round 14, VERDICT r12 item 4).

The contract mirrors the IVF index's LSM lifecycle exactly — build /
probe(commit=True) ingest / delete / compact / stats — with PQ codes
as the stored asset instead of raw vectors. Every equivalence below
compares `pq_index_probe` against `pq_topk` run with the COMMITTED
codebook over the net live corpus: `pq_topk`'s ADC math is itself
brute-force-pinned in tests/test_similarity_api.py, so these pins
close the loop from persisted state back to the all-pairs replica.
Integer-valued float vectors keep every ADC sum exact (no float
reassociation noise), so all comparisons are exact set equality.
"""

import random

import pytest

_SCHEMA = "vec_id long, emb array<double>"


def _mk(n, dim, seed, start=0):
    rng = random.Random(seed)
    return [
        (start + i, [float(rng.randrange(-6, 7)) for _ in range(dim)])
        for i in range(n)
    ]


def _probe_set(df):
    return {
        (r.query_id, r.neighbor_id, r.rank, round(r.adc_dist, 6))
        for r in df.collect()
    }


def _topk_with_model(spark, live, queries, cb_df, k):
    from spark_data_test_spark import pq_topk

    return _probe_set(
        pq_topk(
            spark.createDataFrame(sorted(live.items()), _SCHEMA),
            spark.createDataFrame(queries, _SCHEMA),
            k=k,
            codebook=cb_df,
        )
    )


def _committed_codebook(spark, idx):
    from spark_data_test_spark.state import read_state_table

    return read_state_table(spark, f"{idx}/codebook")


def test_pq_index_probe_equals_pq_topk_on_committed_model(spark, tmp_path):
    """A probe of the freshly built index answers exactly like ADC
    search with the committed codebook over the indexed corpus — the
    persisted state adds nothing and loses nothing."""
    from spark_data_test_spark import pq_index_build, pq_index_probe

    corpus = _mk(24, 8, 301)
    queries = corpus[:4]
    idx = str(tmp_path / "pqidx")
    n = pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=6, rounds=1
    )
    assert n == 24
    cb = _committed_codebook(spark, idx)
    got = _probe_set(
        pq_index_probe(spark.createDataFrame(queries, _SCHEMA), idx, k=5)
    )
    assert got == _topk_with_model(spark, dict(corpus), queries, cb, 5)
    assert got  # non-vacuous


def test_pq_index_probe_matches_local_adc_replay(spark, tmp_path):
    """Independent check of the probe's ADC math: recompute every
    query/candidate distance in plain Python from the COMMITTED codes
    and codebook (both collected — model- and fixture-sized) and
    compare the full top-k sets exactly."""
    from spark_data_test_spark import pq_index_build, pq_index_probe
    from spark_data_test_spark.state import read_state_table

    corpus = _mk(20, 8, 307)
    queries = corpus[:3]
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5, rounds=1
    )
    cb = {
        (r.s, r.cent_id): list(r.csub)
        for r in read_state_table(spark, f"{idx}/codebook").collect()
    }
    codes = {
        r.vec_id: list(r.codes)
        for r in read_state_table(spark, f"{idx}/codes").collect()
    }
    subdim = 2
    want = set()
    for qid, qv in queries:
        scored = []
        for cid, cvec_codes in codes.items():
            if cid == qid:
                continue
            d = 0.0
            for s, code in enumerate(cvec_codes):
                sub = qv[s * subdim:(s + 1) * subdim]
                ent = cb[(s, code)]
                d += sum((x - y) ** 2 for x, y in zip(sub, ent))
            scored.append((d, cid))
        for rank, (d, cid) in enumerate(sorted(scored)[:4], 1):
            want.add((qid, cid, rank, round(d, 6)))
    got = _probe_set(
        pq_index_probe(spark.createDataFrame(queries, _SCHEMA), idx, k=4)
    )
    assert got == want


def test_pq_index_ingest_then_probe_equals_model_topk(spark, tmp_path):
    """commit=True ingestion without retrain: after appending a batch
    (twice — an identical re-commit is idempotent under latest-wins),
    probes answer exactly like ADC search with the ORIGINAL committed
    codebook over corpus + batch."""
    from spark_data_test_spark import pq_index_build, pq_index_probe

    corpus = _mk(20, 8, 311)
    batch = _mk(5, 8, 313, start=500)
    queries = corpus[:3]
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=6, rounds=1
    )
    bdf = spark.createDataFrame(batch, _SCHEMA)
    pq_index_probe(bdf, idx, k=2, commit=True).collect()
    pq_index_probe(bdf, idx, k=2, commit=True).collect()  # re-ingest
    cb = _committed_codebook(spark, idx)
    got = _probe_set(
        pq_index_probe(spark.createDataFrame(queries, _SCHEMA), idx, k=5)
    )
    assert got == _topk_with_model(
        spark, dict(corpus + batch), queries, cb, 5
    )


def test_pq_index_delete_then_probe_equals_without(spark, tmp_path):
    """Tombstone deletes: deleted ids vanish from probes (exactly as if
    they were never indexed), deleting an unknown id is a no-op, and a
    later re-ingest resurrects the id."""
    from spark_data_test_spark import (
        pq_index_build,
        pq_index_delete,
        pq_index_probe,
    )

    corpus = _mk(20, 8, 317)
    queries = corpus[:3]
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=6, rounds=1
    )
    cb = _committed_codebook(spark, idx)
    gone = {corpus[5][0], corpus[11][0]}
    pq_index_delete(spark, idx, sorted(gone) + [9999])  # 9999: absent
    qdf = spark.createDataFrame(queries, _SCHEMA)
    live = {i: v for i, v in corpus if i not in gone}
    assert _probe_set(pq_index_probe(qdf, idx, k=5)) == _topk_with_model(
        spark, live, queries, cb, 5
    )
    back = [c for c in corpus if c[0] == corpus[5][0]]
    pq_index_probe(
        spark.createDataFrame(back, _SCHEMA), idx, k=2, commit=True
    ).collect()
    live[corpus[5][0]] = corpus[5][1]
    assert _probe_set(pq_index_probe(qdf, idx, k=5)) == _topk_with_model(
        spark, live, queries, cb, 5
    )


def test_pq_index_changed_vector_latest_wins(spark, tmp_path):
    """A re-ingested id with a CHANGED vector deterministically
    replaces its old codes — one atomic m-code replacement, never a
    mixed old/new encoding."""
    from spark_data_test_spark import pq_index_build, pq_index_probe

    corpus = _mk(16, 8, 331)
    queries = corpus[:3]
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5, rounds=1
    )
    moved_id = corpus[7][0]
    moved_vec = [9.0, -9.0, 9.0, -9.0, 9.0, -9.0, 9.0, -9.0]
    pq_index_probe(
        spark.createDataFrame([(moved_id, moved_vec)], _SCHEMA),
        idx,
        k=2,
        commit=True,
    ).collect()
    cb = _committed_codebook(spark, idx)
    live = dict(corpus)
    live[moved_id] = moved_vec
    got = _probe_set(
        pq_index_probe(spark.createDataFrame(queries, _SCHEMA), idx, k=5)
    )
    assert got == _topk_with_model(spark, live, queries, cb, 5)


def test_pq_index_compact_preserves_and_shrinks(spark, tmp_path):
    """Compaction commits the RESOLVED view: probe results are
    unchanged, the log folds to one version holding exactly the live
    rows, tombstones are physically gone, and later ingests extend the
    log from the fresh base. Missing index -> None."""
    from spark_data_test_spark import (
        pq_index_build,
        pq_index_compact,
        pq_index_delete,
        pq_index_probe,
        pq_index_stats,
    )

    corpus = _mk(18, 8, 337)
    batch = _mk(4, 8, 339, start=600)
    queries = corpus[:3]
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=6, rounds=1
    )
    pq_index_probe(
        spark.createDataFrame(batch, _SCHEMA), idx, k=2, commit=True
    ).collect()
    pq_index_delete(spark, idx, [corpus[0][0], batch[0][0]])
    qdf = spark.createDataFrame(queries, _SCHEMA)
    before = _probe_set(pq_index_probe(qdf, idx, k=5))
    v = pq_index_compact(spark, idx)
    assert v is not None
    assert _probe_set(pq_index_probe(qdf, idx, k=5)) == before
    s = pq_index_stats(spark, idx).collect()[0]
    assert (s.n_versions, s.n_tombstones) == (1, 0)
    assert s.n_log_rows == s.n_live == len(corpus) + len(batch) - 2
    # the compacted snapshot is a valid log base for further ingests
    extra = _mk(2, 8, 341, start=700)
    pq_index_probe(
        spark.createDataFrame(extra, _SCHEMA), idx, k=2, commit=True
    ).collect()
    cb = _committed_codebook(spark, idx)
    live = dict(corpus + batch + extra)
    del live[corpus[0][0]], live[batch[0][0]]
    assert _probe_set(pq_index_probe(qdf, idx, k=5)) == _topk_with_model(
        spark, live, queries, cb, 5
    )
    assert pq_index_compact(spark, str(tmp_path / "nope")) is None


def test_pq_index_stats_tracks_the_lifecycle(spark, tmp_path):
    """Stats reflect every step: build (live == indexed, one version,
    no tombstones, model shape committed), ingest (+live, +versions),
    delete (-live, +tombstones), compact (log folds to live, zero
    tombstones). Missing index -> None."""
    from spark_data_test_spark import (
        pq_index_build,
        pq_index_compact,
        pq_index_delete,
        pq_index_probe,
        pq_index_stats,
    )

    corpus = _mk(14, 8, 347)
    idx = str(tmp_path / "pqidx")
    n = pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5, rounds=1
    )

    def stats():
        return pq_index_stats(spark, idx).collect()[0]

    s0 = stats()
    assert (s0.n_live, s0.n_versions, s0.n_tombstones) == (n, 1, 0)
    assert s0.n_log_rows == n
    assert s0.m == 4 and 4 <= s0.n_code_rows <= 4 * 5
    assert 1 <= s0.max_code_rows <= s0.n_live

    extra = _mk(3, 8, 349, start=800)
    pq_index_probe(
        spark.createDataFrame(extra, _SCHEMA), idx, k=2, commit=True
    ).collect()
    s1 = stats()
    assert (s1.n_live, s1.n_versions) == (n + 3, 2)

    pq_index_delete(spark, idx, [corpus[0][0], corpus[1][0]])
    s2 = stats()
    assert (s2.n_live, s2.n_tombstones, s2.n_versions) == (n + 1, 2, 3)
    assert s2.n_log_rows == n + 3 + 2  # base + ingest + tombstones

    pq_index_compact(spark, idx)
    s3 = stats()
    assert (s3.n_live, s3.n_log_rows, s3.n_versions, s3.n_tombstones) == (
        n + 1, n + 1, 1, 0,
    )
    assert pq_index_stats(spark, str(tmp_path / "nope")) is None


def test_pq_index_probe_requires_index(spark, tmp_path):
    """Missing index and the crashed-build half-state (codebook
    committed, no codes) both fail loudly."""
    from spark_data_test_spark import pq_index_probe, pq_train
    from spark_data_test_spark.state import write_state_version

    qdf = spark.createDataFrame(_mk(2, 8, 353), _SCHEMA)
    with pytest.raises(ValueError, match="no committed index"):
        pq_index_probe(qdf, str(tmp_path / "missing"))
    half = str(tmp_path / "half")
    cb = pq_train(spark.createDataFrame(_mk(10, 8, 359), _SCHEMA), m=4,
                  ncodes=4)
    write_state_version(cb, f"{half}/codebook", retain=2)
    with pytest.raises(ValueError, match="no committed codes"):
        pq_index_probe(qdf, half)


def test_pq_index_probe_rejects_mismatched_query_dim(spark, tmp_path):
    """Query batches that don't fit the committed model error instead
    of silently truncating / null-padding the ADC scan."""
    from spark_data_test_spark import pq_index_build, pq_index_probe

    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(_mk(12, 8, 367), _SCHEMA), idx, m=4, ncodes=4
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_index_probe(spark.createDataFrame(_mk(2, 10, 373), _SCHEMA), idx)
    with pytest.raises(ValueError, match="subvector dim"):
        pq_index_probe(spark.createDataFrame(_mk(2, 12, 379), _SCHEMA), idx)


def test_pq_index_build_and_commit_collapse_duplicate_ids(spark, tmp_path):
    """A corpus (or ingest batch) carrying the same id twice with
    different vectors collapses deterministically to the greatest
    vector — repeated probes of the committed state always agree."""
    from spark_data_test_spark import pq_index_build, pq_index_probe

    corpus = _mk(12, 8, 383)
    dup = [(corpus[3][0], [7.0] * 8), (corpus[3][0], [-7.0] * 8)]
    idx = str(tmp_path / "pqidx")
    n = pq_index_build(
        spark.createDataFrame(corpus + dup, _SCHEMA), idx, m=4, ncodes=4
    )
    assert n == 12  # duplicates collapsed
    cb = _committed_codebook(spark, idx)
    queries = corpus[:2]
    live = dict(corpus)
    live[corpus[3][0]] = [7.0] * 8  # greatest vector wins
    qdf = spark.createDataFrame(queries, _SCHEMA)
    a = _probe_set(pq_index_probe(qdf, idx, k=4))
    assert a == _probe_set(pq_index_probe(qdf, idx, k=4))
    assert a == _topk_with_model(spark, live, queries, cb, 4)
    # same determinism for an ingest batch with a duplicated id
    bdup = [(900, [2.0] * 8), (900, [-2.0] * 8)]
    pq_index_probe(
        spark.createDataFrame(bdup, _SCHEMA), idx, k=2, commit=True
    ).collect()
    live[900] = [2.0] * 8
    assert _probe_set(pq_index_probe(qdf, idx, k=4)) == _topk_with_model(
        spark, live, queries, cb, 4
    )


def test_pq_index_same_path_rebuild_resets_codes(spark, tmp_path):
    """A rebuild at an existing path retrains the model AND resets the
    codes log: no posting of the old index (ingests included) survives,
    because old codes are meaningless under the new codebook."""
    from spark_data_test_spark import (
        pq_index_build,
        pq_index_probe,
        pq_index_stats,
    )

    idx = str(tmp_path / "pqidx")
    old = _mk(15, 8, 389)
    pq_index_build(spark.createDataFrame(old, _SCHEMA), idx, m=4, ncodes=5)
    pq_index_probe(
        spark.createDataFrame(_mk(3, 8, 397, start=900), _SCHEMA),
        idx,
        k=2,
        commit=True,
    ).collect()
    new = _mk(10, 8, 401, start=50)
    n = pq_index_build(spark.createDataFrame(new, _SCHEMA), idx, m=4,
                       ncodes=5)
    s = pq_index_stats(spark, idx).collect()[0]
    assert (s.n_live, s.n_versions, s.n_log_rows) == (n, 1, n)
    cb = _committed_codebook(spark, idx)
    queries = new[:2]
    got = _probe_set(
        pq_index_probe(spark.createDataFrame(queries, _SCHEMA), idx, k=4)
    )
    assert got == _topk_with_model(spark, dict(new), queries, cb, 4)


def test_pq_index_random_op_sequence_equals_net_state(spark, tmp_path):
    """Seeded random LSM lifecycle: any interleaving of ingests,
    deletes, compactions, and SAME-PATH REBUILDS answers probes
    exactly like ADC search with the CURRENT committed codebook over
    the net surviving vectors. Rebuilds retrain over the live corpus,
    reset the log, and re-stamp every code row — post-rebuild probes
    must answer under the new model without tripping the build-stamp
    guard."""
    from spark_data_test_spark import (
        pq_index_build,
        pq_index_compact,
        pq_index_delete,
        pq_index_ingest,
        pq_index_probe,
    )

    corpus = _mk(16, 8, 409)
    queries = _mk(3, 8, 419, start=9000)
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5, rounds=1
    )
    cb = _committed_codebook(spark, idx)
    live = dict(corpus)
    rng = random.Random(409)
    next_id = 500
    qdf = spark.createDataFrame(queries, _SCHEMA)
    for step in range(8):
        # "ingest" commits via probe(commit=True), "ingest_only" via the
        # round-18 pure-ingest entry — interleaving both proves they
        # advance the SAME log (VERDICT r17 item 6)
        op = rng.choice(
            ["ingest", "ingest_only", "delete", "compact", "rebuild"]
        )
        if op in ("ingest", "ingest_only"):
            rows = {}  # unique ids per batch: the in-batch dedupe
            for _ in range(rng.randrange(1, 3)):  # keeps greatest, not last
                if rng.random() < 0.5 and live:
                    vid = rng.choice(sorted(live))  # changed re-ingest
                else:
                    vid, next_id = next_id, next_id + 1
                rows[vid] = [float(rng.randrange(-6, 7)) for _ in range(8)]
                live[vid] = rows[vid]
            bdf = spark.createDataFrame(list(rows.items()), _SCHEMA)
            if op == "ingest":
                pq_index_probe(bdf, idx, k=2, commit=True).collect()
            else:
                assert pq_index_ingest(bdf, idx) == len(rows)
        elif op == "delete" and live:
            gone = rng.sample(sorted(live), k=min(2, len(live)))
            pq_index_delete(spark, idx, gone)
            for g in gone:
                live.pop(g)
        elif op == "compact":
            pq_index_compact(spark, idx)
        elif op == "rebuild" and live:
            pq_index_build(
                spark.createDataFrame(sorted(live.items()), _SCHEMA),
                idx, m=4, ncodes=5, rounds=1,
            )
            cb = _committed_codebook(spark, idx)
        got = _probe_set(pq_index_probe(qdf, idx, k=4))
        assert got == _topk_with_model(spark, live, queries, cb, 4), (
            step, op, sorted(live),
        )


def test_pq_index_probe_plan_shape(spark, tmp_path):
    """Scale-posture pin: the probe plans NO unpartitioned window (the
    top-k rank is partitioned per query) and NO cartesian product; the
    only forced broadcast is the model-sized codebook — the corpus
    codes side is never hinted (AQE decides), mirroring
    `ivf_index_probe`'s posture."""
    from spark_data_test_spark import pq_index_build, pq_index_probe
    from spark_data_test_spark.plans.audit import (
        global_window_nodes,
        plan_op_counts,
    )

    corpus = _mk(20, 8, 431)
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5
    )
    df = pq_index_probe(
        spark.createDataFrame(corpus[:3], _SCHEMA), idx, k=4
    )
    assert not global_window_nodes(df)
    ops = plan_op_counts(df)
    assert ops.get("CartesianProduct", 0) == 0


def test_pq_index_edge_states(spark, tmp_path):
    """Boundary states stay well-defined: deleting EVERY vector leaves
    a live index that answers probes with zero rows (and zero n_live),
    a single-vector corpus probed by itself returns nothing
    (self-match excluded), and an empty query batch fails loudly."""
    from spark_data_test_spark import (
        pq_index_build,
        pq_index_delete,
        pq_index_probe,
        pq_index_stats,
    )

    corpus = _mk(6, 8, 443)
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=3
    )
    pq_index_delete(spark, idx, [i for i, _ in corpus])
    qdf = spark.createDataFrame(corpus[:2], _SCHEMA)
    assert pq_index_probe(qdf, idx, k=3).count() == 0
    s = pq_index_stats(spark, idx).collect()[0]
    assert (s.n_live, s.n_tombstones) == (0, 6)

    one = str(tmp_path / "one")
    pq_index_build(
        spark.createDataFrame(corpus[:1], _SCHEMA), one, m=4, ncodes=1
    )
    assert pq_index_probe(
        spark.createDataFrame(corpus[:1], _SCHEMA), one, k=3
    ).count() == 0

    empty = spark.createDataFrame([], _SCHEMA)
    with pytest.raises(ValueError, match="empty input frame"):
        pq_index_probe(empty, idx, k=3)


def test_pq_index_probe_collapses_duplicate_query_ids(spark, tmp_path):
    """A batch carrying one id twice would otherwise sum both rows'
    distance-table entries into one ADC score; the probe collapses to
    the greatest vector per id (the commit path's rule), so probing a
    duplicated batch equals probing the collapsed one."""
    from spark_data_test_spark import pq_index_build, pq_index_probe

    corpus = _mk(14, 8, 449)
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5
    )
    qid = corpus[0][0]
    dup = spark.createDataFrame(
        [(qid, [7.0] * 8), (qid, [-7.0] * 8)], _SCHEMA
    )
    clean = spark.createDataFrame([(qid, [7.0] * 8)], _SCHEMA)
    assert _probe_set(pq_index_probe(dup, idx, k=4)) == _probe_set(
        pq_index_probe(clean, idx, k=4)
    )


def test_pq_crashed_rebuild_detected(spark, tmp_path):
    """ADVICE r14: the codebook snapshot and the codes log are two
    commits; a rebuild crashing between them used to leave a NEW
    codebook silently scoring the STALE codes log. Every codes row now
    carries the content hash of the codebook it was encoded against,
    and probes verify the stamp against the committed codebook — the
    mismatch raises instead of returning garbage neighbors. An
    IDENTICAL re-commit of the same codebook does NOT trip (the stamp
    identifies model content, not the build event)."""
    from spark_data_test_spark import pq_index_build, pq_index_probe
    from spark_data_test_spark.state import (
        read_state_table,
        write_state_version,
    )

    corpus = _mk(20, 8, 331)
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=6, rounds=1
    )
    qdf = spark.createDataFrame(corpus[:3], _SCHEMA)
    baseline = _probe_set(pq_index_probe(qdf, idx, k=4))
    assert baseline  # healthy index answers
    cb = read_state_table(spark, f"{idx}/codebook")
    # identical re-commit: content hash unchanged -> probes still fine
    write_state_version(cb, f"{idx}/codebook", retain=2)
    assert _probe_set(pq_index_probe(qdf, idx, k=4)) == baseline
    # crashed retrain: a DIFFERENT codebook committed without its codes
    import pyspark.sql.functions as F

    write_state_version(
        cb.select(
            "s",
            "cent_id",
            F.expr("transform(csub, x -> x + 1.0)").alias("csub"),
        ),
        f"{idx}/codebook",
        retain=2,
    )
    import pytest as _pytest

    with _pytest.raises(Exception, match="different build stamps"):
        pq_index_probe(qdf, idx, k=4).collect()


def test_pq_index_build_with_pretrained_codebook(spark, tmp_path):
    """Model injection (round 15): train on a SAMPLE, build the full
    corpus under the supplied codebook — the committed codebook is the
    injected one and probes equal ADC search with it."""
    from spark_data_test_spark import pq_index_build, pq_index_probe, pq_train

    corpus = _mk(24, 8, 337)
    sample = spark.createDataFrame(corpus[:10], _SCHEMA)
    cb = pq_train(sample, m=4, ncodes=5, rounds=1)
    idx = str(tmp_path / "pqidx")
    n = pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, codebook=cb
    )
    assert n == 24
    committed = _committed_codebook(spark, idx)
    assert {
        (r.s, r.cent_id, tuple(r.csub)) for r in committed.collect()
    } == {(r.s, r.cent_id, tuple(r.csub)) for r in cb.collect()}
    queries = corpus[:3]
    got = _probe_set(
        pq_index_probe(spark.createDataFrame(queries, _SCHEMA), idx, k=4)
    )
    assert got == _topk_with_model(spark, dict(corpus), queries, cb, 4)


def test_pq_index_stats_reports_model_hash_and_staleness(spark, tmp_path):
    """The stats/probe contract split (round 15): probes FAIL loudly on
    a build-stamp mismatch, stats MEASURE it — model_hash is the
    committed codebook's content hash and n_stale counts live rows
    stamped under a different build (0 on a healthy index, n_live
    after a crashed retrain that committed only its codebook)."""
    import pyspark.sql.functions as F

    from spark_data_test_spark import pq_index_build, pq_index_stats
    from spark_data_test_spark.index_log import (
        model_build_hash as _model_build_hash,
    )
    from spark_data_test_spark.state import (
        read_state_table,
        write_state_version,
    )

    corpus = _mk(15, 8, 347)
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5, rounds=1
    )
    cb = read_state_table(spark, f"{idx}/codebook")
    s = pq_index_stats(spark, idx).collect()[0]
    assert s.model_hash == _model_build_hash(cb, ["s", "cent_id", "csub"])
    assert s.n_stale == 0 and s.n_live == 15
    # crashed retrain: a different codebook committed without its codes
    write_state_version(
        cb.select(
            "s", "cent_id",
            F.expr("transform(csub, x -> x + 1.0)").alias("csub"),
        ),
        f"{idx}/codebook",
        retain=2,
    )
    s2 = pq_index_stats(spark, idx).collect()[0]  # measures, never raises
    assert s2.n_stale == s2.n_live == 15
    assert s2.model_hash != s.model_hash


def test_pq_index_legacy_log_raises_friendly_errors(spark, tmp_path):
    """Review r15: a log committed by a pre-stamping release (no
    build_id column) must fail probes and deletes with the
    re-run-the-build message, never a raw union AnalysisException or
    a KeyError — and a new-schema delta over a legacy base resolves
    through the tolerant union instead of dying in unionByName."""
    from spark_data_test_spark import (
        pq_index_delete,
        pq_index_probe,
        pq_train,
    )
    from spark_data_test_spark.state import write_state_version

    corpus = _mk(12, 8, 353)
    cb = pq_train(
        spark.createDataFrame(corpus, _SCHEMA), m=4, ncodes=5, rounds=1
    )
    idx = str(tmp_path / "legacy")
    write_state_version(cb, f"{idx}/codebook", retain=2)
    legacy = spark.createDataFrame(
        [(1, [0, 1, 2, 3]), (2, [1, 1, 1, 1])],
        "vec_id long, codes array<int>",
    )
    write_state_version(legacy, f"{idx}/codes", retain=1)
    qdf = spark.createDataFrame(corpus[:2], _SCHEMA)
    with pytest.raises(Exception, match="predates build stamping"):
        pq_index_probe(qdf, idx, k=2).collect()
    with pytest.raises(ValueError, match="predates build stamping"):
        pq_index_delete(spark, idx, [1])


def test_pq_index_stats_counts_rows_across_changed_m(spark, tmp_path):
    """Review r15: n_live / n_stale count RESOLVED ROWS (via the s=0
    buckets), never exploded entries divided by the CURRENT m — a
    crashed retrain that changed m must not under- or over-count the
    stale rows it left behind."""
    from spark_data_test_spark import (
        pq_index_build,
        pq_index_stats,
        pq_train,
    )
    from spark_data_test_spark.state import write_state_version

    corpus = _mk(15, 8, 359)
    idx = str(tmp_path / "pqm")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5, rounds=1
    )
    cb8 = pq_train(
        spark.createDataFrame(corpus, _SCHEMA), m=8, ncodes=5, rounds=1
    )
    write_state_version(cb8, f"{idx}/codebook", retain=2)  # crashed retrain
    s = pq_index_stats(spark, idx).collect()[0]
    assert s.n_live == 15 and s.n_stale == 15
    assert s.m == 8  # the committed (new) model's shape


def test_pq_index_stats_observes_missing_codebook(spark, tmp_path):
    """ADVICE r15: stats MEASURE damage, they never raise — a codes
    log whose codebook snapshot is gone (corrupted half-state) reads
    out with model_hash / m / n_code_rows NULL and n_stale = n_live
    instead of raising, while the probe still fails loudly."""
    import shutil

    from spark_data_test_spark import (
        pq_index_build,
        pq_index_probe,
        pq_index_stats,
    )

    corpus = _mk(15, 8, 401)
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5, rounds=1
    )
    shutil.rmtree(f"{idx}/codebook")
    s = pq_index_stats(spark, idx).collect()[0]
    assert s.model_hash is None
    assert s.m is None and s.n_code_rows is None
    assert s.n_stale == s.n_live == 15
    assert s.n_log_rows == 15 and s.n_tombstones == 0
    with pytest.raises(ValueError, match="no committed index"):
        pq_index_probe(spark.createDataFrame(corpus[:2], _SCHEMA), idx)


def test_pq_stamp_format_migration_diagnosed(spark, tmp_path):
    """ADVICE r16: every stamped row persists the stamp-FORMULA
    version (`stamp_fmt`), so a probe hitting rows stamped under a
    different formula raises the migration message ("re-run the build
    ... to migrate", explicitly NOT corruption) instead of the
    crashed-rebuild one — and future formula evolutions bump
    `_STAMP_FMT` instead of masquerading as corruption. A live delta
    stamped under a foreign format with a non-matching build_id is
    exactly what a formula change leaves behind."""
    from spark_data_test_spark import pq_index_build, pq_index_probe
    from spark_data_test_spark.index_log import STAMP_FMT as _STAMP_FMT
    from spark_data_test_spark.state import RETAIN_ALL, write_state_version

    corpus = _mk(16, 8, 409)
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5, rounds=1
    )
    assert _STAMP_FMT == 2  # history table in similarity.py documents 1
    foreign = spark.createDataFrame(
        [(999, [0, 1, 2, 3], 123456789, 1)],
        "vec_id long, codes array<int>, build_id long, stamp_fmt int",
    )
    write_state_version(foreign, f"{idx}/codes", retain=RETAIN_ALL)
    qdf = spark.createDataFrame(corpus[:2], _SCHEMA)
    with pytest.raises(Exception, match=r"stamp-format 1\b.*migrate"):
        pq_index_probe(qdf, idx, k=3).collect()


def test_pq_current_format_mismatch_still_reads_as_corruption(
    spark, tmp_path
):
    """The complement of the migration diagnosis: a live row stamped
    under the CURRENT format whose build_id doesn't hash to the
    committed model is genuine crashed-rebuild state and keeps the
    'different build stamps' message."""
    from spark_data_test_spark import pq_index_build, pq_index_probe
    from spark_data_test_spark.index_log import STAMP_FMT as _STAMP_FMT
    from spark_data_test_spark.state import RETAIN_ALL, write_state_version

    corpus = _mk(16, 8, 419)
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5, rounds=1
    )
    bad = spark.createDataFrame(
        [(999, [0, 1, 2, 3], 123456789, _STAMP_FMT)],
        "vec_id long, codes array<int>, build_id long, stamp_fmt int",
    )
    write_state_version(bad, f"{idx}/codes", retain=RETAIN_ALL)
    qdf = spark.createDataFrame(corpus[:2], _SCHEMA)
    with pytest.raises(Exception, match="different build stamps"):
        pq_index_probe(qdf, idx, k=3).collect()


def test_index_builds_release_checkpoint_pins(spark, tmp_path):
    """ADVICE r16: the eager localCheckpoint model pins inside
    ivf/pq/ivfpq_index_build are released explicitly after the final
    commit (`_release_pin`) instead of accumulating until the
    ContextCleaner collects the frames — many builds in one long-lived
    session must not grow the persistent-RDD set."""
    from spark_data_test_spark import (
        ivf_index_build,
        ivfpq_index_build,
        pq_index_build,
    )

    def pinned_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    corpus = spark.createDataFrame(_mk(20, 8, 421), _SCHEMA)
    before = pinned_ids()
    ivf_index_build(corpus, str(tmp_path / "i1"), ncells=3, rounds=1)
    pq_index_build(corpus, str(tmp_path / "i2"), m=4, ncodes=4, rounds=1)
    ivfpq_index_build(
        corpus, str(tmp_path / "i3"), ncells=3, m=4, ncodes=4, rounds=1
    )
    # set containment, not count equality: the ContextCleaner may
    # collect an UNRELATED abandoned pin mid-test, shrinking the set —
    # the builds themselves must leave no NEW persistent RDD behind
    assert pinned_ids() <= before


def test_release_model_pin_frees_pq_train_checkpoint(spark):
    """The public counterpart of the builds' internal pin release
    (review r17): a `pq_train` model frame is an eager localCheckpoint
    whose blocks df.unpersist() cannot reach; `release_model_pin`
    frees them (the persistent-RDD set loses the pin), and releasing a
    plain non-checkpoint frame is a safe no-op."""
    from spark_data_test_spark import pq_train, release_model_pin

    def pinned_ids():
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    corpus = spark.createDataFrame(_mk(16, 8, 431), _SCHEMA)
    before = pinned_ids()
    cb = pq_train(corpus, m=4, ncodes=4, rounds=1)
    with_pin = pinned_ids()
    assert with_pin - before  # the trained model holds a new pin
    release_model_pin(cb)
    assert pinned_ids() <= before
    # releasing a plain frame must not raise
    release_model_pin(corpus)


def test_pq_and_ivfpq_resolved_rows_carry_current_stamp_format(
    spark, tmp_path
):
    """Symmetry pin for the round-17 stamp-format column across the
    CODES-based indexes (the IVF-Flat sweep lives in
    test_similarity_api.py): after build + ingest + delete + compact,
    every live resolved row of both the PQ and IVF-PQ logs carries
    the current `stamp_fmt` and the committed model hash — compaction
    re-commits the column, tombstones never surface."""
    from spark_data_test_spark import (
        ivfpq_index_build,
        ivfpq_index_compact,
        ivfpq_index_delete,
        ivfpq_index_probe,
        pq_index_build,
        pq_index_compact,
        pq_index_delete,
        pq_index_probe,
    )
    from spark_data_test_spark.index_log import (
        STAMP_FMT as _STAMP_FMT,
        model_build_hash as _model_build_hash,
    )
    from spark_data_test_spark.operators.similarity import (
        _PQ_CODES as _resolved_codes,
        _IVFPQ_POSTINGS as _resolved_ivfpq_postings,
    )
    from spark_data_test_spark.state import read_state_table

    corpus = _mk(14, 8, 433)
    batch = _mk(3, 8, 439, start=600)
    live_ids = {i for i, _ in corpus} | {i for i, _ in batch}

    pq_idx = str(tmp_path / "pq")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), pq_idx,
        m=4, ncodes=5, rounds=1,
    )
    pq_index_probe(
        spark.createDataFrame(batch, _SCHEMA), pq_idx, k=2, commit=True
    ).collect()
    pq_index_delete(spark, pq_idx, [corpus[3][0]])
    pq_index_compact(spark, pq_idx)
    cb = read_state_table(spark, f"{pq_idx}/codebook")
    exp = _model_build_hash(cb, ["s", "cent_id", "csub"])
    rows = _resolved_codes(spark, pq_idx).collect()
    assert {r.vec_id for r in rows} == live_ids - {corpus[3][0]}
    assert all(
        r.stamp_fmt == _STAMP_FMT and r.build_id == exp for r in rows
    )

    iv_idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), iv_idx,
        ncells=3, m=4, ncodes=5,
    )
    ivfpq_index_probe(
        spark.createDataFrame(batch, _SCHEMA), iv_idx,
        k=2, nprobe=3, commit=True,
    ).collect()
    ivfpq_index_delete(spark, iv_idx, [corpus[3][0]])
    ivfpq_index_compact(spark, iv_idx)
    cents = read_state_table(spark, f"{iv_idx}/centroids")
    cb2 = read_state_table(spark, f"{iv_idx}/codebook")
    exp2 = _model_build_hash(
        cents, ["cent_id", "cv", "cn2"]
    ) ^ _model_build_hash(cb2, ["s", "cent_id", "csub"])
    rows2 = _resolved_ivfpq_postings(spark, iv_idx).collect()
    assert {r.vec_id for r in rows2} == live_ids - {corpus[3][0]}
    assert all(
        r.stamp_fmt == _STAMP_FMT and r.build_id == exp2 for r in rows2
    )


def test_pq_r16_log_without_format_column_still_serves(spark, tmp_path):
    """Migration boundary (round 17): a log committed by the ROUND-16
    release carries build_id but no stamp_fmt column. Such an index
    must keep serving unchanged — live rows resolve to a NULL format
    and pass the guard when their build_id matches the committed
    model — and a round-17 delete (whose tombstones DO carry the
    column) must resolve through the mixed-schema union."""
    from spark_data_test_spark import (
        pq_index_build,
        pq_index_delete,
        pq_index_probe,
    )
    from spark_data_test_spark.state import (
        read_state_table,
        write_state_version,
    )

    corpus = _mk(16, 8, 443)
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5, rounds=1
    )
    # simulate the r16 on-disk form: same rows, stamp_fmt dropped
    base = read_state_table(spark, f"{idx}/codes")
    write_state_version(
        base.select("vec_id", "codes", "build_id"),
        f"{idx}/codes",
        retain=1,
    )
    qdf = spark.createDataFrame(corpus[:3], _SCHEMA)
    cb = _committed_codebook(spark, idx)
    got = _probe_set(pq_index_probe(qdf, idx, k=4))
    assert got == _topk_with_model(spark, dict(corpus), corpus[:3], cb, 4)
    # an r17 delete over the r16-style base resolves mixed schemas
    gone = corpus[5][0]
    pq_index_delete(spark, idx, [gone])
    live = {i: v for i, v in corpus if i != gone}
    got = _probe_set(pq_index_probe(qdf, idx, k=4))
    assert got == _topk_with_model(spark, live, corpus[:3], cb, 4)


def test_pq_index_ingest_commits_identical_state_as_probe_commit(
    spark, tmp_path
):
    """Round 18 (VERDICT r17 item 2): `pq_index_ingest` appends the
    EXACT delta `pq_index_probe(commit=True)` would — same dedup
    collapse, dim validation, codes, build stamp, and format column —
    without paying the probe's flat ADC scan. Two identical builds,
    one ingested each way: the committed delta rows and every
    subsequent probe answer must match exactly."""
    from spark_data_test_spark import (
        pq_index_build,
        pq_index_ingest,
        pq_index_probe,
    )
    from spark_data_test_spark.state import read_state_table

    corpus = _mk(20, 8, 521)
    # a batch with a new id, a changed re-ingest, and an in-batch dup
    batch = _mk(3, 8, 523, start=700) + [
        (corpus[2][0], [float(x + 1) for x in corpus[2][1]]),
        (700, [2.0] * 8),  # dup id 700: greatest-(norm, vec) collapse
    ]
    idx_a = str(tmp_path / "a")
    idx_b = str(tmp_path / "b")
    for idx in (idx_a, idx_b):
        pq_index_build(
            spark.createDataFrame(corpus, _SCHEMA),
            idx, m=4, ncodes=5, rounds=1,
        )
    bdf = spark.createDataFrame(batch, _SCHEMA)
    pq_index_probe(bdf, idx_a, k=1, commit=True).collect()
    n = pq_index_ingest(bdf, idx_b)
    assert n == 4  # 3 distinct new/changed ids + the collapsed dup
    delta = lambda p: {  # noqa: E731 - latest committed version only
        (r.vec_id, tuple(r.codes), r.build_id, r.stamp_fmt)
        for r in read_state_table(spark, f"{p}/codes").collect()
    }
    assert delta(idx_a) == delta(idx_b)
    qdf = spark.createDataFrame(corpus[:4], _SCHEMA)
    assert _probe_set(pq_index_probe(qdf, idx_a, k=5)) == _probe_set(
        pq_index_probe(qdf, idx_b, k=5)
    )


def test_pq_index_ingest_contract_edges(spark, tmp_path):
    """Ingest-only edge contract: missing index raises the build hint;
    a codebook-only half-index (crashed build) raises; a mismatched
    batch dim raises; an empty batch is a NO-OP returning 0 (no log
    version is written)."""
    import os

    import pytest

    from spark_data_test_spark import pq_index_build, pq_index_ingest
    from spark_data_test_spark.state import write_state_version

    empty = spark.createDataFrame([], _SCHEMA)
    with pytest.raises(ValueError, match="run pq_index_build first"):
        pq_index_ingest(empty, str(tmp_path / "nope"))

    half = str(tmp_path / "half")
    from spark_data_test_spark import pq_train

    cb = pq_train(
        spark.createDataFrame(_mk(12, 8, 541), _SCHEMA),
        m=4, ncodes=4, rounds=1,
    )
    os.makedirs(half, exist_ok=True)
    write_state_version(cb, f"{half}/codebook", retain=2)
    with pytest.raises(ValueError, match="no committed codes"):
        pq_index_ingest(
            spark.createDataFrame(_mk(2, 8, 542), _SCHEMA), half
        )

    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(_mk(12, 8, 541), _SCHEMA),
        idx, m=4, ncodes=4, rounds=1,
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_index_ingest(
            spark.createDataFrame([(900, [1.0] * 6)], _SCHEMA), idx
        )
    versions_before = sorted(os.listdir(f"{idx}/codes"))
    assert pq_index_ingest(empty, idx) == 0
    assert sorted(os.listdir(f"{idx}/codes")) == versions_before


def test_pq_index_ingest_rejects_crashed_rebuild(spark, tmp_path):
    """Round-18 gate (`_assert_log_stamp`): a rebuild that crashed
    between its codebook and codes commits leaves the whole log
    stamped under the OLD model — ingest must refuse to append (the
    repair rebuild would discard the appended batches), at O(newest
    live row) cost rather than the probes' full scan. The walk must
    also step back over tombstone-only deltas (NULL stamps prove
    nothing), so a delete directly before an ingest does not blind
    the gate — and a healthy log keeps ingesting after a delete."""
    import pytest

    from spark_data_test_spark import (
        pq_index_build,
        pq_index_delete,
        pq_index_ingest,
        pq_train,
    )
    from spark_data_test_spark.state import write_state_version

    corpus = _mk(16, 8, 557)
    idx = str(tmp_path / "pqidx")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx, m=4, ncodes=5, rounds=1
    )
    # healthy log, tombstone-only newest delta: gate steps back, passes
    pq_index_delete(spark, idx, [corpus[0][0]])
    assert pq_index_ingest(
        spark.createDataFrame(_mk(2, 8, 558, start=600), _SCHEMA), idx
    ) == 2
    # crash simulation: a DIFFERENT codebook snapshot commits, the
    # codes log is never reset (the build's crash window)
    cb2 = pq_train(
        spark.createDataFrame(_mk(16, 8, 999), _SCHEMA),
        m=4, ncodes=7, rounds=1,
    )
    write_state_version(cb2, f"{idx}/codebook", retain=2)
    with pytest.raises(ValueError, match="different build stamps"):
        pq_index_ingest(
            spark.createDataFrame(_mk(2, 8, 559, start=700), _SCHEMA), idx
        )
    # the probe-commit path runs the SAME gate before its append: its
    # scan-side guard only fires on rows the answer evaluates, so one
    # commit landing on the crashed log would stamp a new-model delta
    # on top and permanently blind the newest-live-row witness
    from spark_data_test_spark import pq_index_probe

    with pytest.raises(ValueError, match="different build stamps"):
        pq_index_probe(
            spark.createDataFrame(_mk(2, 8, 560, start=800), _SCHEMA),
            idx,
            k=2,
            commit=True,
        )
