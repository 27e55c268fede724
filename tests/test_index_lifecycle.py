"""Lifecycle conformance across the three persisted vector indexes.

IVF-Flat, PQ and IVF-PQ share one versioned-log lifecycle: build,
probe, ingest, delete, compact and stats over a latest-wins log whose
rows carry a build stamp. Each case below runs the same script against
every family, so a rule that holds for one index holds for all three:
legacy logs fail with the re-run-the-build message, round-16 logs
without the stamp-format column keep serving and take deletes, deletes
of unknown ids are no-ops, an empty id list names the op, and
compaction leaves one tombstone-free version.
"""

import random

import pytest

import spark_data_test_spark as sdt

_SCHEMA = "vec_id long, emb array<double>"

# family -> (build kwargs, probe kwargs, log directory)
_FAMILIES = {
    "ivf": ({"ncells": 2, "rounds": 0}, {"nprobe": 2}, "postings"),
    "pq": ({"m": 4, "ncodes": 4, "rounds": 0}, {}, "codes"),
    "ivfpq": (
        {"ncells": 2, "m": 4, "ncodes": 4, "rounds": 0, "pq_rounds": 0},
        {"nprobe": 2},
        "postings",
    ),
}


def _mk(n, dim, seed):
    rng = random.Random(seed)
    out = []
    for i in range(n):
        v = [float(rng.randrange(-6, 7)) for _ in range(dim)]
        v[i % dim] = 7.0  # never zero-norm: IVF drops those
        out.append((i, v))
    return out


def _op(family, verb):
    return getattr(sdt, f"{family}_index_{verb}")


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """One untrained-seed build per family; each test mutates its own
    copy of the committed index directory."""
    out = {}
    for family, (build_kw, _, _) in _FAMILIES.items():
        corpus = _mk(18, 8, 601)
        idx = str(tmp_path_factory.mktemp("built") / family)
        _op(family, "build")(
            spark.createDataFrame(corpus, _SCHEMA), idx, **build_kw
        )
        out[family] = (corpus, idx)
    return out


def _copy(built, tmp_path, family):
    import shutil

    corpus, src = built[family]
    idx = str(tmp_path / family)
    shutil.copytree(src, idx)
    return corpus, idx, f"{idx}/{_FAMILIES[family][2]}"


def _probe(spark, family, idx, queries):
    _, probe_kw, _ = _FAMILIES[family]
    res = _op(family, "probe")(
        spark.createDataFrame(queries, _SCHEMA), idx, k=4, **probe_kw
    )
    return {(r.query_id, r.rank) for r in res.collect()}


def _rewrite_log(spark, log_path, drop):
    from spark_data_test_spark.state import (
        read_state_table,
        write_state_version,
    )

    base = read_state_table(spark, log_path)
    keep = [c for c in base.columns if c not in drop]
    write_state_version(base.select(*keep), log_path, retain=1)


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_log_without_build_id_raises_predates_stamping(
    spark, built, tmp_path, family
):
    corpus, idx, log_path = _copy(built, tmp_path, family)
    _rewrite_log(spark, log_path, {"build_id", "stamp_fmt"})
    with pytest.raises(Exception, match="predates build stamping"):
        _probe(spark, family, idx, corpus[:2])
    with pytest.raises(ValueError, match="predates build stamping"):
        _op(family, "delete")(spark, idx, [corpus[0][0]])


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_r16_log_without_stamp_format_serves_and_deletes(
    spark, built, tmp_path, family
):
    corpus, idx, log_path = _copy(built, tmp_path, family)
    _rewrite_log(spark, log_path, {"stamp_fmt"})
    # every query still gets its full top-4 through the stamp guard
    assert _probe(spark, family, idx, corpus[:3]) == {
        (q, rank) for q, _ in corpus[:3] for rank in range(1, 5)
    }
    _op(family, "delete")(spark, idx, [corpus[0][0]])
    stats = _op(family, "stats")(spark, idx).collect()[0]
    assert stats.n_live == len(corpus) - 1
    assert stats.n_tombstones == 1 and stats.n_stale == 0


@pytest.mark.parametrize("family", sorted(_FAMILIES))
def test_delete_noop_empty_ids_and_compact(spark, built, tmp_path, family):
    corpus, idx, _ = _copy(built, tmp_path, family)
    delete = _op(family, "delete")
    with pytest.raises(ValueError, match=f"{family}_index_delete"):
        delete(spark, idx, [])
    # the unknown id must not cost a live row: two real deletes leave
    # exactly n - 2 live rows after compaction
    delete(spark, idx, [10**6])
    delete(spark, idx, [corpus[1][0], corpus[4][0]])
    _op(family, "compact")(spark, idx)
    s = _op(family, "stats")(spark, idx).collect()[0]
    assert s.n_tombstones == 0 and s.n_versions == 1
    assert s.n_live == s.n_log_rows == len(corpus) - 2
