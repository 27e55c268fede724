"""Seeded input generators with known ground truth.

Pure numpy/pyarrow: nothing here touches Spark, so the same seed gives
byte-identical inputs and truth on any machine. Each generator returns
``(tables, truth)`` where ``tables`` maps a name to a ``pyarrow.Table``
and ``truth`` holds the planted counts the output checks compare to.
"""

import numpy as np
import pyarrow as pa

# Shingle rule of the dedup layer (dedup.SHINGLES_EXPR): 8-char
# substrings starting at 1-based positions 1, 5, 9, ... <= len - 7.
SHINGLE_W, SHINGLE_STEP = 8, 4


def shingles(text):
    return {text[i : i + SHINGLE_W] for i in range(0, len(text) - SHINGLE_W + 1, SHINGLE_STEP)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa or sb else 0.0


# ---------------------------------------------------------------- compare

PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
STATUSES = np.array(["F", "O", "P"])
FLAGS = np.array(["A", "N", "R"])
TOLERANCE = 0.01
_EPOCH = np.datetime64("1992-01-01T00:00:00", "us")


def _ts(days):
    return _EPOCH + days.astype("timedelta64[D]").astype("timedelta64[us]")


def _table(cols, nulls=None):
    nulls = nulls or {}
    return pa.table(
        {
            k: pa.array(v, mask=nulls.get(k)) if k in nulls else pa.array(v)
            for k, v in cols.items()
        }
    )


def _perturb_counts(n):
    # shares of the key space each perturbation gets; disjoint keys
    share = {
        "dropped": 0.006,
        "extra": 0.004,
        "dup_target": 0.004,
        "drift_in": 0.006,
        "drift_out": 0.005,
        "str_changed": 0.005,
        "null_str": 0.004,
        "null_num": 0.003,
    }
    return {k: max(3, int(n * s)) for k, s in share.items()}


def _split(order, counts, names):
    """Consecutive disjoint slices of ``order``, one per perturbation."""
    cut = np.cumsum([0] + [counts[k] for k in names])
    return {k: order[a:b] for k, a, b in zip(names, cut[:-1], cut[1:])}


def orders_pair(seed, n):
    """One-column-key pair: ``o_orderkey`` unique on the source; the
    target carries every planted perturbation on disjoint keys."""
    rng = np.random.default_rng([seed, 1])
    keys = rng.permutation(np.arange(1, 4 * n, 4, dtype=np.int64))[:n]
    src = {
        "o_orderkey": keys,
        "o_custkey": rng.integers(1, n // 10 + 2, n, dtype=np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, 3, n)],
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, n), 2),
        "o_orderdate": _ts(rng.integers(0, 2400, n)),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, n)],
    }
    c = _perturb_counts(n)
    sel = _split(rng.permutation(n), c, ("dropped", "dup_target", "drift_in", "drift_out", "str_changed", "null_str", "null_num"))
    tgt = {k: v.copy() for k, v in src.items()}
    tgt["o_totalprice"][sel["drift_in"]] += rng.choice([-1, 1], c["drift_in"]) * TOLERANCE / 2
    tgt["o_totalprice"][sel["drift_out"]] += rng.choice([-1, 1], c["drift_out"]) * rng.uniform(1.0, 50.0, c["drift_out"])
    p = tgt["o_orderpriority"]
    p[sel["str_changed"]] = PRIORITIES[(np.searchsorted(PRIORITIES, p[sel["str_changed"]]) + rng.integers(1, 5, c["str_changed"])) % 5]
    null_str = np.zeros(n, bool)
    null_str[sel["null_str"]] = True
    null_num = np.zeros(n, bool)
    null_num[sel["null_num"]] = True
    keep = np.ones(n, bool)
    keep[sel["dropped"]] = False
    rows = np.concatenate([np.flatnonzero(keep), sel["dup_target"]])
    extra_keys = np.arange(2, 2 + 4 * c["extra"], 4, dtype=np.int64)  # even: never a source key
    extra = {
        "o_orderkey": extra_keys,
        "o_custkey": rng.integers(1, n // 10 + 2, c["extra"], dtype=np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, 3, c["extra"])],
        "o_totalprice": np.round(rng.uniform(900.0, 500000.0, c["extra"]), 2),
        "o_orderdate": _ts(rng.integers(0, 2400, c["extra"])),
        "o_orderpriority": PRIORITIES[rng.integers(0, 5, c["extra"])],
    }
    tgt_cols = {k: np.concatenate([v[rows], extra[k]]) for k, v in tgt.items()}
    pad = np.zeros(c["extra"], bool)
    nulls = {
        "o_orderstatus": np.concatenate([null_str[rows], pad]),
        "o_totalprice": np.concatenate([null_num[rows], pad]),
    }
    unmatched = c["drift_out"] + c["str_changed"] + c["null_str"] + c["null_num"]
    truth = {
        "src_total": n,
        "tgt_total": n - c["dropped"] + c["dup_target"] + c["extra"],
        "src_dups": 0,
        "tgt_dups": c["dup_target"],
        "miss_src": c["extra"],
        "miss_tgt": c["dropped"],
        "matched": n - c["dropped"] - unmatched,
        "unmatched_keys": unmatched,
        # a one-side NULL in a NUMERIC column fails the row verdict but
        # counts in no column (its tolerance flag is NULL, not False)
        "columns": {
            "o_custkey": 0,
            "o_orderstatus": c["null_str"],
            "o_totalprice": c["drift_out"],
            "o_orderdate": 0,
            "o_orderpriority": c["str_changed"],
        },
    }
    return {"source": _table(src), "target": _table(tgt_cols, nulls)}, truth


def lineitem_pair(seed, n):
    """Composite-key pair ``(l_orderkey, l_linenumber)``. ``fanout``
    keys carry two rows on BOTH sides that differ in every column, so
    the full outer join yields 2 matching and 2 cross pairs per key;
    each cross pair mismatches in every column."""
    rng = np.random.default_rng([seed, 2])
    n_fan = max(3, n // 100)
    n_keys = n - n_fan
    okey = np.repeat(np.arange(1, n_keys // 4 + 2, dtype=np.int64), 4)[:n_keys]
    lnum = np.tile(np.arange(1, 5, dtype=np.int32), n_keys // 4 + 1)[:n_keys]

    def cols(m):
        return {
            "l_partkey": rng.integers(1, 20000, m, dtype=np.int64),
            "l_suppkey": rng.integers(1, 1000, m, dtype=np.int64),
            "l_quantity": rng.integers(1, 51, m).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900.0, 100000.0, m), 2),
            "l_discount": rng.integers(0, 11, m) / 100.0,
            "l_tax": rng.integers(0, 9, m) / 100.0,
            "l_returnflag": FLAGS[rng.integers(0, 3, m)],
            "l_linestatus": np.where(rng.random(m) < 0.5, "O", "F"),
            "l_shipdate": _ts(rng.integers(0, 2500, m)),
        }

    base = {"l_orderkey": okey, "l_linenumber": lnum, **cols(n_keys)}
    fan = rng.choice(n_keys, n_fan, replace=False)
    twin = {k: v[fan].copy() for k, v in base.items()}
    for k in ("l_partkey", "l_suppkey"):
        twin[k] += 1
    for k in ("l_quantity", "l_extendedprice"):
        twin[k] += 1.0
    for k in ("l_discount", "l_tax"):
        twin[k] = np.round(twin[k] + 0.5, 2)
    twin["l_returnflag"] = FLAGS[(np.searchsorted(FLAGS, twin["l_returnflag"]) + 1) % 3]
    twin["l_linestatus"] = np.where(twin["l_linestatus"] == "O", "F", "O")
    twin["l_shipdate"] = twin["l_shipdate"] + np.timedelta64(1, "D").astype("timedelta64[us]")
    src = {k: np.concatenate([v, twin[k]]) for k, v in base.items()}

    c = _perturb_counts(n_keys)
    free = rng.permutation(np.setdiff1d(np.arange(n_keys), fan))
    sel = _split(free, c, ("dropped", "drift_in", "drift_out", "str_changed", "null_str"))
    tgt = {k: v.copy() for k, v in src.items()}
    tgt["l_extendedprice"][sel["drift_in"]] += TOLERANCE / 2
    tgt["l_extendedprice"][sel["drift_out"]] += rng.uniform(1.0, 50.0, c["drift_out"])
    f = tgt["l_returnflag"]
    f[sel["str_changed"]] = FLAGS[(np.searchsorted(FLAGS, f[sel["str_changed"]]) + 1) % 3]
    null_str = np.zeros(len(f), bool)
    null_str[sel["null_str"]] = True
    keep = np.ones(len(f), bool)
    keep[sel["dropped"]] = False
    extra = {
        "l_orderkey": np.arange(10**9, 10**9 + c["extra"], dtype=np.int64),
        "l_linenumber": np.ones(c["extra"], np.int32),
        **cols(c["extra"]),
    }
    tgt_cols = {k: np.concatenate([v[keep], extra[k]]) for k, v in tgt.items()}
    nulls = {"l_linestatus": np.concatenate([null_str[keep], np.zeros(c["extra"], bool)])}
    unmatched = c["drift_out"] + c["str_changed"] + c["null_str"]
    cross = 2 * n_fan  # cross pairs of the fan-out keys, every column
    value_cols = [k for k in base if k not in ("l_orderkey", "l_linenumber")]
    columns = {k: cross for k in value_cols}
    columns["l_extendedprice"] += c["drift_out"]
    columns["l_returnflag"] += c["str_changed"]
    columns["l_linestatus"] += c["null_str"]
    truth = {
        "src_total": n,
        "tgt_total": n - c["dropped"] + c["extra"],
        "src_dups": n_fan,
        "tgt_dups": n_fan,
        "miss_src": c["extra"],
        "miss_tgt": c["dropped"],
        "matched": n_keys - c["dropped"] - unmatched,
        "unmatched_keys": unmatched,
        "columns": columns,
    }
    return {"source": _table(src), "target": _table(tgt_cols, nulls)}, truth


# ---------------------------------------------------------------- corpus

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _vocab(rng, size):
    words = set()
    while len(words) < size:
        letters = rng.integers(0, 26, (size, 10))
        for row, ln in zip(letters, rng.integers(3, 11, size)):
            words.add("".join(_LETTERS[row[:ln]]))
            if len(words) == size:
                break
    return np.array(sorted(words))


def corpus(seed, n_docs, vocab_size=30000):
    """Zipf-vocabulary corpus with planted exact duplicates, one-word
    near duplicates, short and NULL texts, and one boilerplate cluster.
    Returns tables ``docs`` (the batch corpus), ``index_docs`` (the part
    indexed up front), ``arrivals`` (probed and committed later) and the
    truth for both paths."""
    rng = np.random.default_rng([seed, 3])
    vocab = _vocab(rng, vocab_size)
    cdf = np.cumsum(1.0 / np.arange(1, vocab_size + 1) ** 1.05)
    cdf /= cdf[-1]

    def doc(m):
        return " ".join(vocab[np.minimum(np.searchsorted(cdf, rng.random(m)), vocab_size - 1)])

    by_len = {}
    for w in vocab:
        by_len.setdefault(len(w), []).append(w)

    def edit(text):
        # same-length replacement: the dedup shingles are sampled every
        # 4 chars, so a length change would shift every later shingle
        words = text.split(" ")
        i = int(rng.integers(len(words)))
        pool, new = by_len[len(words[i])], words[i]
        while new == words[i]:
            new = pool[int(rng.integers(len(pool)))]
        words[i] = new
        return " ".join(words)

    n_exact = max(4, n_docs // 40)
    n_near = max(4, n_docs // 25)
    n_short, n_null = max(2, n_docs // 400), max(2, n_docs // 400)
    n_boiler = max(8, min(300, n_docs // 20))
    n_base = n_docs - n_exact - n_near - n_short - n_null - n_boiler
    texts = [doc(int(rng.integers(25, 60))) for _ in range(n_base)]
    template = doc(40).split(" ")
    slot_words = rng.choice(vocab_size, n_boiler, replace=False)
    for w in slot_words:
        t = list(template)
        t[17] = vocab[w]
        texts.append(" ".join(t))
    near_of = rng.choice(n_base, n_near, replace=False)
    texts += [edit(texts[i]) for i in near_of]
    exact_of = rng.choice(n_base, n_exact, replace=False)
    texts += [texts[i] for i in exact_of]
    texts += ["".join(rng.choice(_LETTERS, int(rng.integers(1, 8)))) for _ in range(n_short)]
    texts += [None] * n_null
    # ids are a permutation, so survivors are not always the originals
    ids = rng.permutation(np.arange(1, len(texts) + 1, dtype=np.int64) * 7)
    near_pairs = [(int(ids[i]), int(ids[n_base + n_boiler + j])) for j, i in enumerate(near_of)]

    longs = [t for t in texts if t is not None and len(t) >= 8]
    truth = {
        "n_docs": len(texts),
        "short": n_short + n_null,
        "exact": len(longs) - len(set(longs)),
        "near_pairs": near_pairs,
        "exact_pairs": sorted(
            (min(int(ids[i]), int(ids[n_base + n_boiler + n_near + j])),
             max(int(ids[i]), int(ids[n_base + n_boiler + n_near + j])))
            for j, i in enumerate(exact_of)
        ),
    }
    docs = {"doc_id": ids, "text": np.array(texts, dtype=object)}

    # incremental path: index a random 70% (all kinds of docs); the
    # arrivals are the rest plus planted copies and edits of indexed docs
    n_idx = int(len(texts) * 0.7)
    order = rng.permutation(len(texts))
    idx_pos, rest_pos = order[:n_idx], order[n_idx:]
    idx_long = [i for i in idx_pos if texts[i] is not None and len(texts[i]) >= 8]
    n_copy = max(3, n_docs // 100)
    copy_of = rng.choice(idx_long, n_copy, replace=False)
    edit_of = rng.choice(idx_long, n_copy, replace=False)
    next_id = int(ids.max()) + 1
    arr_ids = [int(ids[i]) for i in rest_pos] + list(range(next_id, next_id + 2 * n_copy))
    arr_texts = [texts[i] for i in rest_pos] + [texts[i] for i in copy_of] + [edit(texts[i]) for i in edit_of]
    perm = rng.permutation(len(arr_ids))
    arr_ids = np.array(arr_ids, dtype=np.int64)[perm]
    arr_texts = np.array(arr_texts, dtype=object)[perm]
    copy_ids = set(range(next_id, next_id + n_copy))
    truth["copy_pairs"] = sorted(
        (int(a), int(ids[copy_of[a - next_id]])) for a in copy_ids
    )
    truth["n_index_docs"] = n_idx
    truth["n_arrivals"] = len(arr_ids)
    delete_ids = np.sort(ids[rng.choice(idx_long, max(2, n_docs // 200), replace=False)])
    truth["delete_ids"] = [int(x) for x in delete_ids]
    banded = lambda ts: {int(i) for i, t in ts if t is not None and len(t) >= 8}  # noqa: E731
    live = banded(zip(ids[idx_pos], (texts[i] for i in idx_pos))) | banded(zip(arr_ids, arr_texts))
    truth["live_docs_after_delete"] = len(live - set(truth["delete_ids"]))
    tables = {
        "docs": pa.table({"doc_id": docs["doc_id"], "text": pa.array(list(docs["text"]), pa.string())}),
        "index_docs": pa.table({"doc_id": ids[idx_pos], "text": pa.array([texts[i] for i in idx_pos], pa.string())}),
        "arrivals": pa.table({"doc_id": arr_ids, "text": pa.array(list(arr_texts), pa.string())}),
    }
    return tables, truth


# ---------------------------------------------------------------- vectors

def vectors(seed, n, dim=64, n_queries=200, n_ingest=None, n_delete=None, k=10):
    """Gaussian-mixture vectors: corpus, query batch, ingest batch and
    delete ids, plus exact cosine top-``k`` truth (numpy, float64) for
    the queries before and after the ingest/delete cycle."""
    rng = np.random.default_rng([seed, 4])
    n_ingest = n_ingest or max(10, n // 10)
    n_delete = n_delete or max(5, n // 50)
    centers = rng.normal(size=(max(8, int(np.sqrt(n))), dim))

    def draw(m):
        c = centers[rng.integers(len(centers), size=m)]
        return (c + 0.6 * rng.normal(size=(m, dim))).astype(np.float32)

    corpus_v, query_v, ingest_v = draw(n), draw(n_queries), draw(n_ingest)
    corpus_id = np.arange(n, dtype=np.int64)
    query_id = np.arange(10**6, 10**6 + n_queries, dtype=np.int64)
    ingest_id = np.arange(n, n + n_ingest, dtype=np.int64)
    delete_id = np.sort(rng.choice(n, n_delete, replace=False)).astype(np.int64)

    def topk(ids, vecs):
        a = query_v.astype(np.float64)
        b = vecs.astype(np.float64)
        cos = (a / np.linalg.norm(a, axis=1)[:, None]) @ (b / np.linalg.norm(b, axis=1)[:, None]).T
        # (cosine desc, id asc) — the library's tie-break
        order = np.lexsort((np.broadcast_to(ids, cos.shape), -cos), axis=1)[:, :k]
        return ids[order], np.take_along_axis(cos, order, axis=1)

    live = np.ones(n, bool)
    live[delete_id] = False
    after_ids = np.concatenate([corpus_id[live], ingest_id])
    after_v = np.concatenate([corpus_v[live], ingest_v])
    truth = {
        "before": topk(corpus_id, corpus_v),
        "after": topk(after_ids, after_v),
        "n_live_after": int(live.sum()) + n_ingest,
        "n_ingest": n_ingest,
        "k": k,
    }

    def tab(ids, vecs):
        return pa.table({"vec_id": ids, "emb": pa.array(list(vecs), pa.list_(pa.float32()))})

    tables = {
        "corpus": tab(corpus_id, corpus_v),
        "queries": tab(query_id, query_v),
        "ingest": tab(ingest_id, ingest_v),
        "delete": pa.table({"vec_id": delete_id}),
    }
    return tables, truth
