"""Persisted IVF-PQ index lifecycle pins (round 14).

The composed ANN index: coarse cells prune WHICH candidates a probe
inspects, PQ codes compress WHAT is scored there. The central pin is
the composed analogue of the IVF-Flat index's probe-all ==
cosine_topk: with ``nprobe`` >= the committed cell count the probe is
exhaustive and must equal `pq_topk` run with the COMMITTED codebook
over the net live corpus (pq_topk's ADC math is brute-force-pinned in
tests/test_similarity_api.py). Integer-valued float vectors keep ADC
sums exact, so every comparison is exact set equality. Lifecycle
rules (ingest / delete / resurrect / compact / rebuild-reset / random
op-sequence) mirror the other two persisted indexes.
"""

import random

import pytest

_SCHEMA = "vec_id long, emb array<double>"
_PROBE_ALL = 99  # >= any cell count used below -> exhaustive probe


def _mk(n, dim, seed, start=0):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        v = [float(rng.randrange(-6, 7)) for _ in range(dim)]
        if all(x == 0.0 for x in v):  # zero-norm rows are dropped by
            v[0] = 1.0  # the ANN contract; keep fixtures live
        out.append((start + i, v))
    return out


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


def test_ivfpq_probe_all_equals_pq_topk_on_committed_model(
    spark, tmp_path
):
    """nprobe >= cells -> the candidate set is the whole live corpus,
    so the probe must equal ADC search with the committed codebook:
    the cell layer adds nothing and loses nothing when exhaustive."""
    from spark_data_test_spark import ivfpq_index_build, ivfpq_index_probe

    corpus = _mk(24, 8, 501)
    queries = corpus[:4]
    idx = str(tmp_path / "ivfpq")
    n = ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=3, m=4, ncodes=6,
    )
    assert n == 24
    cb = _committed_codebook(spark, idx)
    got = _probe_set(
        ivfpq_index_probe(
            spark.createDataFrame(queries, _SCHEMA), idx,
            k=5, nprobe=_PROBE_ALL,
        )
    )
    assert got == _topk_with_model(spark, dict(corpus), queries, cb, 5)
    assert got


def test_ivfpq_nprobe_prunes_to_probed_cells(spark, tmp_path):
    """nprobe=1 inspects exactly the query's best cell: every returned
    neighbor must live in that cell (replayed from the committed
    postings), and the ADC values agree with the exhaustive probe for
    those neighbors."""
    from spark_data_test_spark import ivfpq_index_build, ivfpq_index_probe
    from spark_data_test_spark.state import read_state_table

    corpus = _mk(30, 8, 507)
    queries = corpus[:3]
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=4, m=4, ncodes=6,
    )
    cell_of = {
        r.vec_id: r.cell
        for r in read_state_table(spark, f"{idx}/postings").collect()
    }
    qdf = spark.createDataFrame(queries, _SCHEMA)
    narrow = _probe_set(ivfpq_index_probe(qdf, idx, k=30, nprobe=1))
    exhaustive = {
        (q, nb): d
        for q, nb, _rank, d in _probe_set(
            ivfpq_index_probe(qdf, idx, k=30, nprobe=_PROBE_ALL)
        )
    }
    assert narrow
    probed_cells = {}
    for q, nb, _rank, d in narrow:
        probed_cells.setdefault(q, set()).add(cell_of[nb])
        assert exhaustive[(q, nb)] == d
    for q, cells in probed_cells.items():
        assert len(cells) == 1, (q, cells)


def test_ivfpq_ingest_then_probe_equals_model_topk(spark, tmp_path):
    """commit=True ingestion assigns cells AND encodes against the
    COMMITTED models; an identical re-commit is idempotent."""
    from spark_data_test_spark import ivfpq_index_build, ivfpq_index_probe

    corpus = _mk(20, 8, 511)
    batch = _mk(5, 8, 513, start=500)
    queries = corpus[:3]
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=3, m=4, ncodes=6,
    )
    bdf = spark.createDataFrame(batch, _SCHEMA)
    ivfpq_index_probe(bdf, idx, k=2, nprobe=_PROBE_ALL,
                      commit=True).collect()
    ivfpq_index_probe(bdf, idx, k=2, nprobe=_PROBE_ALL,
                      commit=True).collect()
    cb = _committed_codebook(spark, idx)
    got = _probe_set(
        ivfpq_index_probe(
            spark.createDataFrame(queries, _SCHEMA), idx,
            k=5, nprobe=_PROBE_ALL,
        )
    )
    assert got == _topk_with_model(
        spark, dict(corpus + batch), queries, cb, 5
    )


def test_ivfpq_delete_then_probe_equals_without(spark, tmp_path):
    """Tombstones: deleted ids vanish, unknown ids are no-ops, a later
    re-ingest resurrects."""
    from spark_data_test_spark import (
        ivfpq_index_build,
        ivfpq_index_delete,
        ivfpq_index_probe,
    )

    corpus = _mk(20, 8, 517)
    queries = corpus[:3]
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=3, m=4, ncodes=6,
    )
    cb = _committed_codebook(spark, idx)
    gone = {corpus[5][0], corpus[11][0]}
    ivfpq_index_delete(spark, idx, sorted(gone) + [9999])
    qdf = spark.createDataFrame(queries, _SCHEMA)
    live = {i: v for i, v in corpus if i not in gone}
    assert _probe_set(
        ivfpq_index_probe(qdf, idx, k=5, nprobe=_PROBE_ALL)
    ) == _topk_with_model(spark, live, queries, cb, 5)
    ivfpq_index_probe(
        spark.createDataFrame([corpus[5]], _SCHEMA), idx,
        k=2, nprobe=_PROBE_ALL, commit=True,
    ).collect()
    live[corpus[5][0]] = corpus[5][1]
    assert _probe_set(
        ivfpq_index_probe(qdf, idx, k=5, nprobe=_PROBE_ALL)
    ) == _topk_with_model(spark, live, queries, cb, 5)


def test_ivfpq_compact_preserves_and_stats_track(spark, tmp_path):
    """Compaction folds the log through the shared merge rule; stats
    reflect build/ingest/delete/compact. Missing index -> None."""
    from spark_data_test_spark import (
        ivfpq_index_build,
        ivfpq_index_compact,
        ivfpq_index_delete,
        ivfpq_index_probe,
        ivfpq_index_stats,
    )

    corpus = _mk(18, 8, 523)
    idx = str(tmp_path / "ivfpq")
    n = ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=3, m=4, ncodes=5,
    )

    def stats():
        return ivfpq_index_stats(spark, idx).collect()[0]

    s0 = stats()
    assert (s0.n_live, s0.n_versions, s0.n_tombstones) == (n, 1, 0)
    assert s0.n_log_rows == n
    assert 1 <= s0.n_cells_used <= 3
    assert s0.max_cell_rows <= s0.n_live
    assert s0.m == 4 and 4 <= s0.n_code_rows <= 4 * 5

    extra = _mk(3, 8, 527, start=800)
    ivfpq_index_probe(
        spark.createDataFrame(extra, _SCHEMA), idx,
        k=2, nprobe=_PROBE_ALL, commit=True,
    ).collect()
    s1 = stats()
    assert (s1.n_live, s1.n_versions) == (n + 3, 2)

    ivfpq_index_delete(spark, idx, [corpus[0][0], corpus[1][0]])
    s2 = stats()
    assert (s2.n_live, s2.n_tombstones, s2.n_versions) == (n + 1, 2, 3)

    qdf = spark.createDataFrame(corpus[2:5], _SCHEMA)
    before = _probe_set(
        ivfpq_index_probe(qdf, idx, k=5, nprobe=_PROBE_ALL)
    )
    v = ivfpq_index_compact(spark, idx)
    assert v is not None
    assert _probe_set(
        ivfpq_index_probe(qdf, idx, k=5, nprobe=_PROBE_ALL)
    ) == before
    s3 = stats()
    assert (s3.n_live, s3.n_log_rows, s3.n_versions, s3.n_tombstones) == (
        n + 1, n + 1, 1, 0,
    )
    assert ivfpq_index_compact(spark, str(tmp_path / "nope")) is None
    assert ivfpq_index_stats(spark, str(tmp_path / "nope")) is None


def test_ivfpq_probe_requires_index_and_valid_dims(spark, tmp_path):
    """Missing index, crashed-build half-state, and query batches that
    don't fit the committed model all fail loudly."""
    from spark_data_test_spark import (
        ivfpq_index_build,
        ivfpq_index_probe,
    )

    qdf = spark.createDataFrame(_mk(2, 8, 531), _SCHEMA)
    with pytest.raises(ValueError, match="no committed index"):
        ivfpq_index_probe(qdf, str(tmp_path / "missing"))
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(_mk(12, 8, 537), _SCHEMA), idx,
        ncells=3, m=4, ncodes=4,
    )
    with pytest.raises(ValueError, match="not divisible"):
        ivfpq_index_probe(
            spark.createDataFrame(_mk(2, 10, 541), _SCHEMA), idx
        )
    with pytest.raises(ValueError, match="subvector dim"):
        ivfpq_index_probe(
            spark.createDataFrame(_mk(2, 12, 547), _SCHEMA), idx
        )


def test_ivfpq_same_path_rebuild_resets_postings(spark, tmp_path):
    """A rebuild retrains BOTH models and resets the log: nothing of
    the old index (ingests included) survives."""
    from spark_data_test_spark import (
        ivfpq_index_build,
        ivfpq_index_probe,
        ivfpq_index_stats,
    )

    idx = str(tmp_path / "ivfpq")
    old = _mk(15, 8, 553)
    ivfpq_index_build(
        spark.createDataFrame(old, _SCHEMA), idx, ncells=3, m=4, ncodes=5
    )
    ivfpq_index_probe(
        spark.createDataFrame(_mk(3, 8, 557, start=900), _SCHEMA), idx,
        k=2, nprobe=_PROBE_ALL, commit=True,
    ).collect()
    new = _mk(10, 8, 563, start=50)
    n = ivfpq_index_build(
        spark.createDataFrame(new, _SCHEMA), idx, ncells=3, m=4, ncodes=5
    )
    s = ivfpq_index_stats(spark, idx).collect()[0]
    assert (s.n_live, s.n_versions, s.n_log_rows) == (n, 1, n)
    cb = _committed_codebook(spark, idx)
    queries = new[:2]
    got = _probe_set(
        ivfpq_index_probe(
            spark.createDataFrame(queries, _SCHEMA), idx,
            k=4, nprobe=_PROBE_ALL,
        )
    )
    assert got == _topk_with_model(spark, dict(new), queries, cb, 4)


def test_ivfpq_random_op_sequence_equals_net_state(spark, tmp_path):
    """Seeded random LSM lifecycle: any interleaving of ingests,
    deletes, compactions, and SAME-PATH REBUILDS answers exhaustive
    probes exactly like ADC search with the CURRENT committed
    codebook over the net live state (rebuilds retrain BOTH models,
    reset the postings log, and re-stamp it)."""
    from spark_data_test_spark import (
        ivfpq_index_build,
        ivfpq_index_compact,
        ivfpq_index_delete,
        ivfpq_index_ingest,
        ivfpq_index_probe,
    )

    corpus = _mk(16, 8, 569)
    queries = _mk(3, 8, 571, start=9000)
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=3, m=4, ncodes=5,
    )
    cb = _committed_codebook(spark, idx)
    live = dict(corpus)
    rng = random.Random(569)
    next_id = 500
    qdf = spark.createDataFrame(queries, _SCHEMA)
    for step in range(7):
        # interleave probe-commit and round-18 pure-ingest commits:
        # both must advance the SAME log (VERDICT r17 item 6)
        op = rng.choice(
            ["ingest", "ingest_only", "delete", "compact", "rebuild"]
        )
        if op in ("ingest", "ingest_only"):
            rows = {}
            for _ in range(rng.randrange(1, 3)):
                if rng.random() < 0.5 and live:
                    vid = rng.choice(sorted(live))
                else:
                    vid, next_id = next_id, next_id + 1
                v = [float(rng.randrange(-6, 7)) for _ in range(8)]
                if all(x == 0.0 for x in v):
                    v[0] = 1.0
                rows[vid] = v
                live[vid] = v
            bdf = spark.createDataFrame(list(rows.items()), _SCHEMA)
            if op == "ingest":
                ivfpq_index_probe(
                    bdf, idx, k=2, nprobe=_PROBE_ALL, commit=True
                ).collect()
            else:
                assert ivfpq_index_ingest(bdf, idx) == len(rows)
        elif op == "delete" and live:
            gone = rng.sample(sorted(live), k=min(2, len(live)))
            ivfpq_index_delete(spark, idx, gone)
            for g in gone:
                live.pop(g)
        elif op == "compact":
            ivfpq_index_compact(spark, idx)
        elif op == "rebuild" and live:
            ivfpq_index_build(
                spark.createDataFrame(sorted(live.items()), _SCHEMA),
                idx, ncells=3, m=4, ncodes=5,
            )
            cb = _committed_codebook(spark, idx)
        got = _probe_set(
            ivfpq_index_probe(qdf, idx, k=4, nprobe=_PROBE_ALL)
        )
        assert got == _topk_with_model(spark, live, queries, cb, 4), (
            step, op, sorted(live),
        )
    # deterministic rebuild coverage regardless of the rng path: a
    # same-path retrain over the net live corpus resets and re-stamps
    # the log, and probes answer under the NEW model without tripping
    # the stamp guard
    ivfpq_index_build(
        spark.createDataFrame(sorted(live.items()), _SCHEMA),
        idx, ncells=3, m=4, ncodes=5,
    )
    cb = _committed_codebook(spark, idx)
    got = _probe_set(ivfpq_index_probe(qdf, idx, k=4, nprobe=_PROBE_ALL))
    assert got == _topk_with_model(spark, live, queries, cb, 4)


def test_ivfpq_probe_plan_shape(spark, tmp_path):
    """Scale-posture pin: no unpartitioned window (both the cell-pick
    and top-k ranks are per-query), no cartesian; only the two
    model-sized frames (centroids, codebook) are force-broadcast."""
    from spark_data_test_spark import ivfpq_index_build, ivfpq_index_probe
    from spark_data_test_spark.plans.audit import (
        global_window_nodes,
        plan_op_counts,
    )

    corpus = _mk(20, 8, 577)
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=3, m=4, ncodes=5,
    )
    df = ivfpq_index_probe(
        spark.createDataFrame(corpus[:3], _SCHEMA), idx, k=4, nprobe=2
    )
    assert not global_window_nodes(df)
    assert plan_op_counts(df).get("CartesianProduct", 0) == 0


def test_ivfpq_edge_states(spark, tmp_path):
    """Boundary states: all-deleted index answers with zero rows and
    zero n_live; an all-zero-vector query batch fails loudly (no
    meaningful coarse cell)."""
    from spark_data_test_spark import (
        ivfpq_index_build,
        ivfpq_index_delete,
        ivfpq_index_probe,
        ivfpq_index_stats,
    )

    corpus = _mk(6, 8, 587)
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=2, m=4, ncodes=3,
    )
    ivfpq_index_delete(spark, idx, [i for i, _ in corpus])
    qdf = spark.createDataFrame(corpus[:2], _SCHEMA)
    assert ivfpq_index_probe(qdf, idx, k=3, nprobe=_PROBE_ALL).count() == 0
    s = ivfpq_index_stats(spark, idx).collect()[0]
    assert (s.n_live, s.n_tombstones) == (0, 6)

    zeros = spark.createDataFrame([(77, [0.0] * 8)], _SCHEMA)
    with pytest.raises(ValueError, match="no nonzero vectors"):
        ivfpq_index_probe(zeros, idx, k=3)


def test_ivfpq_probe_all_equals_flat_pq_index(spark, tmp_path):
    """Cross-index consistency: the PQ training is deterministic, so a
    flat PQ index and an IVF-PQ index built over the SAME corpus with
    the same (m, ncodes, rounds) commit the same codebook — and an
    exhaustive IVF-PQ probe must answer exactly like the flat PQ
    index's probe. The cell layer is pure pruning, never scoring."""
    from spark_data_test_spark import (
        ivfpq_index_build,
        ivfpq_index_probe,
        pq_index_build,
        pq_index_probe,
    )

    corpus = _mk(22, 8, 593)
    queries = corpus[:3]
    flat = str(tmp_path / "flat")
    comp = str(tmp_path / "comp")
    pq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), flat, m=4, ncodes=6,
        rounds=1,
    )
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), comp,
        ncells=3, m=4, ncodes=6, pq_rounds=1,
    )
    qdf = spark.createDataFrame(queries, _SCHEMA)
    assert _probe_set(pq_index_probe(qdf, flat, k=5)) == _probe_set(
        ivfpq_index_probe(qdf, comp, k=5, nprobe=_PROBE_ALL)
    )


def _brute_exact_l2(live, queries, k):
    out = set()
    for qid, qv in queries:
        scored = []
        for cid, cv in sorted(live.items()):
            if cid == qid:
                continue
            scored.append(
                (sum((x - y) ** 2 for x, y in zip(qv, cv)), cid)
            )
        for rank, (d, cid) in enumerate(sorted(scored)[:k], 1):
            out.add((qid, cid, rank, round(d, 6)))
    return out


def test_refine_topk_recovers_exact_l2(spark, tmp_path):
    """The two-stage contract: an IVF-PQ shortlist wide enough to
    contain the true neighbors, refined against the raw corpus,
    equals the EXACT brute-force L2 top-k — quantization error is
    fully recovered on the rows that matter."""
    from spark_data_test_spark import (
        ivfpq_index_build,
        ivfpq_index_probe,
        refine_topk,
    )

    corpus = _mk(24, 8, 601)
    queries = corpus[:3]
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=3, m=4, ncodes=6,
    )
    cdf = spark.createDataFrame(corpus, _SCHEMA)
    qdf = spark.createDataFrame(queries, _SCHEMA)
    # shortlist = the whole live corpus (k >= n, probe-all), so the
    # refined result MUST equal exact search
    shortlist = ivfpq_index_probe(qdf, idx, k=30, nprobe=_PROBE_ALL)
    got = {
        (r.query_id, r.neighbor_id, r.rank, round(r.l2_dist, 6))
        for r in refine_topk(shortlist, qdf, cdf, k=4).collect()
    }
    assert got == _brute_exact_l2(dict(corpus), queries, 4)


def test_refine_topk_cosine_and_contract(spark):
    """Cosine metric ranks descending with the id tie-break and drops
    zero-norm rows; candidates missing from the resolver drop out; an
    invalid metric fails loudly."""
    from spark_data_test_spark import cosine_topk, refine_topk

    corpus = _mk(15, 8, 607)
    queries = corpus[:2]
    cdf = spark.createDataFrame(corpus, _SCHEMA)
    qdf = spark.createDataFrame(queries, _SCHEMA)
    # shortlist = every (query, candidate) pair -> refine == exact
    # cosine_topk (itself brute-pinned in this suite's siblings)
    pairs = [
        (q[0], c[0]) for q in queries for c in corpus if c[0] != q[0]
    ]
    sl = spark.createDataFrame(pairs, "query_id long, neighbor_id long")
    got = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in refine_topk(sl, qdf, cdf, k=4, metric="cosine").collect()
    }
    want = {
        (r.query_id, r.neighbor_id, r.rank, round(r.cosine, 9))
        for r in cosine_topk(cdf, qdf, k=4).collect()
    }
    assert got == want
    # partial resolver: candidates it cannot resolve disappear
    half = spark.createDataFrame(corpus[:8], _SCHEMA)
    kept = {
        r.neighbor_id
        for r in refine_topk(sl, qdf, half, k=20, metric="cosine").collect()
    }
    assert kept <= {c[0] for c in corpus[:8]}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="metric"):
        refine_topk(sl, qdf, cdf, metric="dotproduct")


def test_refine_topk_plan_shape(spark):
    """No unpartitioned window, no cartesian — the refine stage stays
    per-query-partitioned and join-keyed."""
    from spark_data_test_spark import refine_topk
    from spark_data_test_spark.plans.audit import (
        global_window_nodes,
        plan_op_counts,
    )

    corpus = _mk(10, 8, 613)
    cdf = spark.createDataFrame(corpus, _SCHEMA)
    qdf = spark.createDataFrame(corpus[:2], _SCHEMA)
    sl = spark.createDataFrame(
        [(corpus[0][0], corpus[5][0])], "query_id long, neighbor_id long"
    )
    df = refine_topk(sl, qdf, cdf, k=3)
    assert not global_window_nodes(df)
    assert plan_op_counts(df).get("CartesianProduct", 0) == 0


def test_refine_topk_property_sweep(spark):
    """Hypothesis sweep: for random integer-valued corpora, random
    query subsets, RANDOM shortlists (any subset of the pair space,
    including SELF-pairs — which must never rank — and pairs that tie
    on distance), and a random set of RAGGED resolver rows (wrong
    vector length — ADVICE r14: these must silently drop, never rank
    a NULL distance), refine_topk equals the Python replica
    restricted to the shortlist — under both metrics. Integer-valued
    floats keep L2 sums exact; cosine rounds to 9 places."""
    import math as _math

    from hypothesis import HealthCheck, given, settings, strategies as st

    from spark_data_test_spark import refine_topk

    @st.composite
    def scenarios(draw):
        dim = draw(st.integers(1, 4))
        n = draw(st.integers(3, 8))
        val = st.integers(-4, 4)
        corpus = []
        for i in range(n):
            v = [float(draw(val)) for _ in range(dim)]
            corpus.append((i, v))
        nq = draw(st.integers(1, 2))
        queries = corpus[:nq]
        pairs = [
            (q[0], c[0]) for q in queries for c in corpus
        ]
        shortlist = draw(
            st.lists(st.sampled_from(pairs), min_size=1, max_size=12)
        )
        k = draw(st.integers(1, 4))
        metric = draw(st.sampled_from(["l2", "cosine"]))
        ragged = draw(
            st.sets(st.integers(0, n - 1), min_size=0, max_size=2)
        )
        return corpus, queries, shortlist, k, metric, ragged

    def brute(corpus, queries, shortlist, k, metric, ragged):
        vec = dict(corpus)
        out = set()
        for qid, qv in queries:
            cands = sorted(
                {
                    nb
                    for q, nb in shortlist
                    if q == qid and nb != qid and nb not in ragged
                }
            )
            scored = []
            for cid in cands:
                cv = vec[cid]
                if metric == "l2":
                    d = sum((x - y) ** 2 for x, y in zip(qv, cv))
                    scored.append((d, cid))
                else:
                    qn = sum(x * x for x in qv)
                    cn = sum(x * x for x in cv)
                    if qn == 0 or cn == 0:
                        continue  # zero-norm dropped under cosine
                    c = sum(x * y for x, y in zip(qv, cv)) / _math.sqrt(
                        qn * cn
                    )
                    scored.append((-c, cid))
            for rank, (d, cid) in enumerate(sorted(scored)[:k], 1):
                val = round(-d if metric == "cosine" else d, 9)
                out.add((qid, cid, rank, val))
        return out

    @given(s=scenarios())
    @settings(
        max_examples=8,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    def prop(s):
        corpus, queries, shortlist, k, metric, ragged = s
        resolver_rows = [
            (i, v + [9.0]) if i in ragged else (i, v) for i, v in corpus
        ]
        cdf = spark.createDataFrame(resolver_rows, _SCHEMA)
        qdf = spark.createDataFrame(queries, _SCHEMA)
        sl = spark.createDataFrame(
            shortlist, "query_id long, neighbor_id long"
        )
        col = "l2_dist" if metric == "l2" else "cosine"
        rows = refine_topk(sl, qdf, cdf, k=k, metric=metric).collect()
        assert all(r[col] is not None for r in rows)
        got = {
            (r.query_id, r.neighbor_id, r.rank, round(r[col], 9))
            for r in rows
        }
        assert got == brute(corpus, queries, shortlist, k, metric, ragged)

    prop()


def test_refine_topk_collapses_duplicate_ids(spark):
    """Duplicate ids in the resolver or query frame collapse
    deterministically (greatest vector) instead of double-ranking a
    candidate or interleaving two rows of one query."""
    from spark_data_test_spark import refine_topk

    corpus = _mk(8, 4, 619)
    dup_res = corpus + [(corpus[3][0], [9.0] * 4)]
    cdf = spark.createDataFrame(dup_res, _SCHEMA)
    qdf = spark.createDataFrame(
        [corpus[0], (corpus[0][0], [9.0] * 4)], _SCHEMA
    )
    sl = spark.createDataFrame(
        [(corpus[0][0], c[0]) for c in corpus[1:]],
        "query_id long, neighbor_id long",
    )
    rows = refine_topk(sl, qdf, cdf, k=10).collect()
    # each candidate ranked exactly once, ranks contiguous from 1
    assert sorted(r.rank for r in rows) == list(range(1, len(rows) + 1))
    assert len({r.neighbor_id for r in rows}) == len(rows)
    # the greatest query/resolver vectors won: distances are computed
    # against [9,9,9,9] for both the query and the duplicated id
    d = {r.neighbor_id: r.l2_dist for r in rows}
    assert d[corpus[3][0]] == 0.0  # [9]*4 vs [9]*4


def test_ivfpq_probe_collapses_duplicate_query_ids(spark, tmp_path):
    """Duplicate batch ids collapse to the greatest vector before cell
    scoring and ADC, matching the commit path's rule."""
    from spark_data_test_spark import ivfpq_index_build, ivfpq_index_probe

    corpus = _mk(14, 8, 631)
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=3, m=4, ncodes=5,
    )
    qid = corpus[0][0]
    dup = spark.createDataFrame(
        [(qid, [7.0] * 8), (qid, [-7.0] * 8)], _SCHEMA
    )
    clean = spark.createDataFrame([(qid, [7.0] * 8)], _SCHEMA)
    assert _probe_set(
        ivfpq_index_probe(dup, idx, k=4, nprobe=2)
    ) == _probe_set(ivfpq_index_probe(clean, idx, k=4, nprobe=2))


def test_refine_topk_drops_ragged_rows(spark):
    """ADVICE r14: a resolver (or query) row whose vector length
    differs from its counterpart used to null-pad zip_with into a NULL
    l2_dist that ranked #1 under ASC NULLS FIRST, silently displacing
    a true neighbor. Ragged pairs are now dropped (the `_pq_frame`
    family contract), so the result is exactly the clean-resolver
    result — no NULL distances, no garbage #1."""
    from spark_data_test_spark import refine_topk

    corpus = _mk(10, 6, 641)
    queries = corpus[:2]
    cdf = spark.createDataFrame(corpus, _SCHEMA)
    # one ragged resolver row (dim 4 instead of 6) for a NEW id that
    # the shortlist proposes as a candidate for every query
    ragged = spark.createDataFrame(
        corpus + [(777, [0.0, 0.0, 0.0, 0.0])], _SCHEMA
    )
    qdf = spark.createDataFrame(queries, _SCHEMA)
    sl = spark.createDataFrame(
        [
            (q[0], c_id)
            for q in queries
            for c_id in [c[0] for c in corpus] + [777]
            if c_id != q[0]
        ],
        "query_id long, neighbor_id long",
    )
    want = {
        (r.query_id, r.neighbor_id, r.rank, round(r.l2_dist, 6))
        for r in refine_topk(sl, qdf, cdf, k=4).collect()
    }
    rows = refine_topk(sl, qdf, ragged, k=4).collect()
    got = {
        (r.query_id, r.neighbor_id, r.rank, round(r.l2_dist, 6))
        for r in rows
    }
    assert got == want
    assert all(r.l2_dist is not None for r in rows)
    assert 777 not in {r.neighbor_id for r in rows}
    # ragged QUERY rows drop the same way (cosine path included)
    rq = spark.createDataFrame(
        [(queries[0][0], queries[0][1]), (555, [1.0, 2.0])], _SCHEMA
    )
    got_q = refine_topk(sl, rq, cdf, k=4, metric="cosine").collect()
    assert {r.query_id for r in got_q} == {queries[0][0]}
    assert all(r.cosine is not None for r in got_q)


def test_ivfpq_crashed_rebuild_detected(spark, tmp_path):
    """ADVICE r14: a rebuild that commits a NEW model but crashes
    before the postings log reset leaves stale postings paired with
    the wrong model — the build stamp makes the next probe fail
    loudly instead of silently scoring old codes against it. Both
    model tables are covered (centroids XOR codebook)."""
    from spark_data_test_spark import ivfpq_index_build, ivfpq_index_probe
    from spark_data_test_spark.state import (
        read_state_table,
        write_state_version,
    )

    corpus = _mk(18, 8, 643)
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=3, m=4, ncodes=5,
    )
    qdf = spark.createDataFrame(corpus[:2], _SCHEMA)
    ivfpq_index_probe(qdf, idx, k=3, nprobe=2).collect()  # healthy
    # simulate the crash: a retrain committed ONLY its centroids (a
    # shifted copy of the old model) before dying
    cents = read_state_table(spark, f"{idx}/centroids")
    import pyspark.sql.functions as F

    drifted = cents.select(
        "cent_id",
        F.expr("transform(cv, x -> x + 1.0)").alias("cv"),
        (F.col("cn2") + 1.0).alias("cn2"),
    )
    write_state_version(drifted, f"{idx}/centroids", retain=2)
    with pytest.raises(Exception, match="different build stamps"):
        ivfpq_index_probe(qdf, idx, k=3, nprobe=2).collect()
    # probe-commit runs the O(1-row) log-stamp gate BEFORE appending
    # (a cell-pruned answer may evaluate no pre-existing posting row,
    # so the scan-side guard alone cannot stop the append) — raises
    # the gate's ValueError, and no delta version lands
    import os

    versions = sorted(os.listdir(f"{idx}/postings"))
    with pytest.raises(ValueError, match="different build stamps"):
        ivfpq_index_probe(qdf, idx, k=3, nprobe=2, commit=True)
    assert sorted(os.listdir(f"{idx}/postings")) == versions
    # same detection when only the CODEBOOK half was re-committed
    idx2 = str(tmp_path / "ivfpq2")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx2,
        ncells=3, m=4, ncodes=5,
    )
    cb = read_state_table(spark, f"{idx2}/codebook")
    write_state_version(
        cb.select(
            "s",
            "cent_id",
            F.expr("transform(csub, x -> x + 1.0)").alias("csub"),
        ),
        f"{idx2}/codebook",
        retain=2,
    )
    with pytest.raises(Exception, match="different build stamps"):
        ivfpq_index_probe(qdf, idx2, k=3, nprobe=2).collect()


def test_ivfpq_index_build_with_pretrained_models(spark, tmp_path):
    """Model injection (round 15): both models supplied — the build
    skips training, assigns cells under the given centroids, encodes
    under the given codebook, and an exhaustive probe still equals
    flat ADC search with that codebook over the corpus."""
    from spark_data_test_spark import (
        ivfpq_index_build,
        ivfpq_index_probe,
        pq_topk,
        pq_train,
    )
    from spark_data_test_spark.state import read_state_table

    corpus = _mk(20, 8, 653)
    cdf = spark.createDataFrame(corpus, _SCHEMA)
    cb = pq_train(spark.createDataFrame(corpus[:8], _SCHEMA),
                  m=4, ncodes=5, rounds=1)
    # donor index supplies a valid (cent_id, cv, cn2) centroid table
    donor = str(tmp_path / "donor")
    ivfpq_index_build(cdf, donor, ncells=3, m=4, ncodes=4)
    cents = read_state_table(spark, f"{donor}/centroids")
    idx = str(tmp_path / "ivfpq")
    n = ivfpq_index_build(cdf, idx, centroids=cents, codebook=cb)
    assert n == 20
    queries = corpus[:3]
    qdf = spark.createDataFrame(queries, _SCHEMA)
    got = _probe_set(ivfpq_index_probe(qdf, idx, k=4, nprobe=_PROBE_ALL))
    want = {
        (r.query_id, r.neighbor_id, r.rank, round(r.adc_dist, 6))
        for r in pq_topk(cdf, qdf, k=4, codebook=cb).collect()
    }
    assert got == want


def test_ivfpq_index_stats_reports_model_hash_and_staleness(spark, tmp_path):
    """Stats measure a crashed rebuild (n_stale == n_live after either
    model half is re-committed alone) while probes raise — the
    complementary observability contract."""
    import pyspark.sql.functions as F

    from spark_data_test_spark import ivfpq_index_build, ivfpq_index_stats
    from spark_data_test_spark.index_log import (
        model_build_hash as _model_build_hash,
    )
    from spark_data_test_spark.state import (
        read_state_table,
        write_state_version,
    )

    corpus = _mk(16, 8, 661)
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=3, m=4, ncodes=5,
    )
    cents = read_state_table(spark, f"{idx}/centroids")
    cb = read_state_table(spark, f"{idx}/codebook")
    want = _model_build_hash(
        cents, ["cent_id", "cv", "cn2"]
    ) ^ _model_build_hash(cb, ["s", "cent_id", "csub"])
    s = ivfpq_index_stats(spark, idx).collect()[0]
    assert s.model_hash == want
    assert s.n_stale == 0 and s.n_live == 16
    write_state_version(
        cents.select(
            "cent_id",
            F.expr("transform(cv, x -> x + 1.0)").alias("cv"),
            (F.col("cn2") + 1.0).alias("cn2"),
        ),
        f"{idx}/centroids",
        retain=2,
    )
    s2 = ivfpq_index_stats(spark, idx).collect()[0]
    assert s2.n_stale == s2.n_live == 16
    assert s2.model_hash != s.model_hash


def test_ivfpq_commit_excludes_ragged_rows(spark, tmp_path):
    """Review r15: the commit path must reuse the probe's validated
    frame — a ragged batch row excluded from the answer must never
    reach the postings log (it would carry NULL-distance garbage
    codes under an arbitrary cell)."""
    import pyspark.sql.functions as F

    from spark_data_test_spark import ivfpq_index_build, ivfpq_index_probe
    from spark_data_test_spark.operators.similarity import (
        _IVFPQ_POSTINGS as _resolved_ivfpq_postings,
    )

    corpus = _mk(14, 8, 673)
    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=3, m=4, ncodes=5,
    )
    batch = spark.createDataFrame(
        [(900, [3.0] * 8), (901, [1.0, 2.0])], _SCHEMA
    )
    ivfpq_index_probe(
        batch, idx, k=2, nprobe=2, commit=True
    ).collect()
    live = {
        r.vec_id
        for r in _resolved_ivfpq_postings(spark, idx)
        .select("vec_id")
        .collect()
    }
    assert 900 in live and 901 not in live
    # and the committed good row has non-NULL codes under the stamp
    row = (
        _resolved_ivfpq_postings(spark, idx)
        .where(F.col("vec_id") == 900)
        .collect()[0]
    )
    assert row.codes is not None and row.build_id is not None


def test_ivfpq_index_stats_observes_missing_models(spark, tmp_path):
    """ADVICE r15: stats MEASURE damage, they never raise — a postings
    log missing either committed model (corrupted half-state) reads
    out with model_hash NULL and n_stale = n_live instead of raising,
    plus m / n_code_rows NULL when the codebook is the missing one."""
    import shutil

    from spark_data_test_spark import (
        ivfpq_index_build,
        ivfpq_index_probe,
        ivfpq_index_stats,
    )

    corpus = _mk(16, 8, 811)
    idx = str(tmp_path / "ivfpqidx")
    ivfpq_index_build(
        spark.createDataFrame(corpus, _SCHEMA), idx,
        ncells=3, m=4, ncodes=5,
    )
    shutil.rmtree(f"{idx}/codebook")
    s = ivfpq_index_stats(spark, idx).collect()[0]
    assert s.model_hash is None
    assert s.m is None and s.n_code_rows is None
    assert s.n_stale == s.n_live == 16
    with pytest.raises(ValueError, match="no committed index"):
        ivfpq_index_probe(
            spark.createDataFrame(corpus[:2], _SCHEMA), idx
        )
    # centroids missing too: still a readout, not a raise
    shutil.rmtree(f"{idx}/centroids")
    s2 = ivfpq_index_stats(spark, idx).collect()[0]
    assert s2.model_hash is None and s2.n_stale == s2.n_live == 16


def test_ivfpq_index_ingest_commits_identical_state_as_probe_commit(
    spark, tmp_path
):
    """Round 18 (VERDICT r17 item 2): `ivfpq_index_ingest` appends the
    EXACT delta `ivfpq_index_probe(commit=True)` would — same dedup
    collapse, zero-norm drop, argmax cell, codes, and build stamp —
    without any probe work. Two identical builds, one ingested each
    way: the committed delta rows and every subsequent probe answer
    must match exactly."""
    from spark_data_test_spark import (
        ivfpq_index_build,
        ivfpq_index_ingest,
        ivfpq_index_probe,
    )
    from spark_data_test_spark.state import read_state_table

    corpus = _mk(20, 8, 601)
    batch = _mk(3, 8, 603, start=700) + [
        (corpus[2][0], [float(x + 1) for x in corpus[2][1]]),
        (950, [0.0] * 8),  # zero-norm: dropped by the family contract
    ]
    idx_a = str(tmp_path / "a")
    idx_b = str(tmp_path / "b")
    for idx in (idx_a, idx_b):
        ivfpq_index_build(
            spark.createDataFrame(corpus, _SCHEMA),
            idx, ncells=3, m=4, ncodes=5,
        )
    bdf = spark.createDataFrame(batch, _SCHEMA)
    ivfpq_index_probe(
        bdf, idx_a, k=1, nprobe=_PROBE_ALL, commit=True
    ).collect()
    n = ivfpq_index_ingest(bdf, idx_b)
    assert n == 4  # 3 new + 1 changed re-ingest; the zero-norm dropped
    delta = lambda p: {  # noqa: E731 - latest committed version only
        (r.vec_id, r.cell, tuple(r.codes), r.build_id, r.stamp_fmt)
        for r in read_state_table(spark, f"{p}/postings").collect()
    }
    assert delta(idx_a) == delta(idx_b)
    qdf = spark.createDataFrame(corpus[:4], _SCHEMA)
    assert _probe_set(
        ivfpq_index_probe(qdf, idx_a, k=5, nprobe=_PROBE_ALL)
    ) == _probe_set(ivfpq_index_probe(qdf, idx_b, k=5, nprobe=_PROBE_ALL))


def test_ivfpq_index_ingest_contract_edges(spark, tmp_path):
    """Ingest-only edge contract: missing index raises the build hint;
    a models-only half-index raises; a mismatched batch dim raises; an
    empty batch — and a batch emptied by the zero-norm drop — is a
    NO-OP returning 0 with no log version written."""
    import os

    import pytest

    from spark_data_test_spark import ivfpq_index_build, ivfpq_index_ingest

    empty = spark.createDataFrame([], _SCHEMA)
    with pytest.raises(ValueError, match="run ivfpq_index_build first"):
        ivfpq_index_ingest(empty, str(tmp_path / "nope"))

    idx = str(tmp_path / "ivfpq")
    ivfpq_index_build(
        spark.createDataFrame(_mk(12, 8, 607), _SCHEMA),
        idx, ncells=3, m=4, ncodes=4,
    )
    with pytest.raises(ValueError, match="not divisible"):
        ivfpq_index_ingest(
            spark.createDataFrame([(900, [1.0] * 6)], _SCHEMA), idx
        )
    versions_before = sorted(os.listdir(f"{idx}/postings"))
    assert ivfpq_index_ingest(empty, idx) == 0
    zero = spark.createDataFrame([(901, [0.0] * 8)], _SCHEMA)
    assert ivfpq_index_ingest(zero, idx) == 0
    assert sorted(os.listdir(f"{idx}/postings")) == versions_before
