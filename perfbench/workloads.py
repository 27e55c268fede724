"""The benchmark's workloads.

Each workload stages its seeded inputs once (``stage``), then runs
repetitions (``round``) as a closed loop with a single caller: every
public call starts only after the previous one returned. A round
returns its phase items; ``check`` compares the round's outputs to the
generator's ground truth and returns the names of the operations whose
output was wrong. Checks and stats reads run outside every timed span.

Sizes are small on purpose: one run (session start, staging and the
measured repetition) must fit well under a minute on 4 cores, and the
numbers must repeat across seeds.
"""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

import gen

# Sizes per workload. ``tiny`` is for the benchmark's own tests.
SIZES = {
    "compare_job": {"full": {"orders": 6000, "lineitem": 12000}, "tiny": {"orders": 400, "lineitem": 800}},
    "corpus_curation": {"full": {"docs": 1000}, "tiny": {"docs": 300}},
    "vector_index": {
        "full": {"n": 1200, "queries": 100, "batches": 2, "nprobe": 3},
        "tiny": {"n": 300, "queries": 20, "batches": 2, "nprobe": 3},
    },
}


def _dir_bytes(path):
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Workload:
    name = None

    def __init__(self, spark, run_dir, seed, size="full"):
        self.spark = spark
        self.run_dir = run_dir
        self.seed = seed
        self.size = SIZES[self.name][size]
        self.data_dir = os.path.join(run_dir, "data")
        self.counts = {}  # per-layer counts read from outputs, last round

    def _write(self, tables):
        os.makedirs(self.data_dir, exist_ok=True)
        for name, table in tables.items():
            pq.write_table(table, os.path.join(self.data_dir, f"{name}.parquet"))

    def _read(self, name):
        return self.spark.read.parquet(os.path.join(self.data_dir, f"{name}.parquet"))

    def out_dir(self, n):
        return os.path.join(self.run_dir, "out", f"r{n}")

    def corrupt(self, n):
        """Damage one output of round ``n`` (exercises the checks)."""
        raise NotImplementedError(self.name)


class CompareJob(Workload):
    """The paper's job: per dataset pair, read both sides, compare, and
    write the four reports to a parquet sink (the calls
    ``run_comparison_job`` makes)."""

    name = "compare_job"

    def stage(self):
        self.truth, tables = {}, {}
        for pair, make in (("orders", gen.orders_pair), ("lineitem", gen.lineitem_pair)):
            t, self.truth[pair] = make(self.seed, self.size[pair])
            tables[f"{pair}_source"], tables[f"{pair}_target"] = t["source"], t["target"]
        self.rows = sum(t.num_rows for t in tables.values())
        self._write(tables)
        self.input_bytes = _dir_bytes(self.data_dir)

    def round(self, tr, n):
        from spark_data_test_spark import (
            DatasetParams,
            OutputConfig,
            TestParams,
            compare_dataframes,
            release_comparison_result,
            write_results,
        )
        from spark_data_test_spark.entities.config import DataframeConfig
        from spark_data_test_spark.utils.io_utils import read_dataframe

        keys = {"orders": ["o_orderkey"], "lineitem": ["l_orderkey", "l_linenumber"]}
        out = OutputConfig(output_dir=self.out_dir(n))
        for pair in ("orders", "lineitem"):
            with tr.span("io_utils.read_dataframe"):
                src = read_dataframe(self.spark, DataframeConfig(path=os.path.join(self.data_dir, f"{pair}_source.parquet")))
                tgt = read_dataframe(self.spark, DataframeConfig(path=os.path.join(self.data_dir, f"{pair}_target.parquet")))
            params = DatasetParams(
                dataset_name=pair,
                primary_keys=keys[pair],
                test_params=TestParams(difference_tolerance=gen.TOLERANCE),
            )
            with tr.span("comparison.compare_dataframes", pair=pair):
                res = compare_dataframes(self.spark, src, tgt, params)
            with tr.span("jobs.write_results", pair=pair):
                write_results(res, pair, out)
            release_comparison_result(res)
        return {"main": self.rows}

    def corrupt(self, n):
        path = f"{self.out_dir(n)}/orders/col_lvl_test_report"
        table = pq.read_table(path)
        i = table.schema.get_field_index("unmatched_rows_count")
        counts = table.column(i).to_pylist()
        counts[0] += 1
        table = table.set_column(i, table.field(i), pa.array(counts, table.field(i).type))
        shutil.rmtree(path)
        os.makedirs(path)
        pq.write_table(table, f"{path}/part-0.parquet")

    def check(self, n):
        failed = set()
        base = self.out_dir(n)
        mismatch = 0
        for pair, truth in self.truth.items():
            overall = self.spark.read.parquet(f"{base}/{pair}/overall_test_report").collect()
            cols = self.spark.read.parquet(f"{base}/{pair}/col_lvl_test_report").collect()
            ok = len(overall) == 1
            if ok:
                r = overall[0]
                got = {
                    "src_total": r["count"]["source"],
                    "tgt_total": r["count"]["target"],
                    "src_dups": r["duplicate_count"]["source"],
                    "tgt_dups": r["duplicate_count"]["target"],
                    "miss_src": r["missing_rows"]["source"],
                    "miss_tgt": r["missing_rows"]["target"],
                    "matched": r["matched_count"],
                }
                ok = all(got[k] == truth[k] for k in got) and r["test_status"] == "FAILED"
            got_cols = {c["column_name"]: c["unmatched_rows_count"] for c in cols}
            ok = ok and got_cols == truth["columns"]
            mismatch += sum(got_cols.values())
            if not ok:
                failed.add("comparison.compare_dataframes")
        self.counts = {
            "comparison.mismatch_rows": mismatch,
            "io_utils.report_bytes_per_input_byte": _dir_bytes(base) / self.input_bytes,
        }
        self.recall = 0.0 if failed else 1.0
        return failed


class CorpusCuration(Workload):
    """Batch path: language id, quality score and the dedup waterfall,
    each stage written to parquet. Incremental path: build a MinHash
    band index over 70% of the corpus, probe-and-commit the arrivals,
    delete, and compact."""

    name = "corpus_curation"
    TAU = 0.5

    def stage(self):
        tables, self.truth = gen.corpus(self.seed, self.size["docs"])
        self._write(tables)
        self.texts = {}
        for t in (tables["docs"], tables["arrivals"]):
            self.texts.update(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))

    def round(self, tr, n):
        from spark_data_test_spark import (
            dedup_corpus,
            minhash_index_build,
            minhash_index_compact,
            minhash_index_delete,
            minhash_index_probe,
            release_model_pin,
        )
        from spark_data_test_spark.operators.text import language_id, quality_score

        out = self.out_dir(n)
        docs = self._read("docs")
        with tr.span("text.language_id"):
            language_id(docs).write.parquet(f"{out}/lang")
        with tr.span("text.quality_score"):
            quality_score(self.spark.read.parquet(f"{out}/lang")).write.parquet(f"{out}/scored")
        with tr.span("dedup.dedup_corpus"):
            dedup_corpus(self.spark.read.parquet(f"{out}/scored")).write.parquet(f"{out}/verdicts")

        idx = f"{out}/minhash_index"
        arrivals = self._read("arrivals")
        resolver = self._read("index_docs").unionByName(arrivals.select("doc_id", "text"))
        with tr.span("dedup.minhash_index_build"):
            minhash_index_build(self._read("index_docs"), idx)
        with tr.span("dedup.minhash_index_probe"):
            res = minhash_index_probe(
                arrivals.select("doc_id", "text"), idx, resolver, tau_1e6=int(self.TAU * 1e6), commit=True
            )
            self.probe_rows = res.collect()
        release_model_pin(res)
        with tr.span("dedup.minhash_index_delete"):
            minhash_index_delete(self.spark, idx, self.truth["delete_ids"])
        self.index_bpr = [self._index_bytes_per_row(idx)]
        with tr.span("dedup.minhash_index_compact"):
            minhash_index_compact(self.spark, idx)
        self.index_bpr.append(self._index_bytes_per_row(idx))
        return {"main": self.truth["n_docs"], "ingest": self.truth["n_arrivals"]}

    def _index_bytes_per_row(self, idx):
        from spark_data_test_spark import minhash_index_stats

        st = minhash_index_stats(self.spark, idx).first()
        self.live_docs = st["n_live_docs"]
        return _dir_bytes(idx) / max(1, st["n_live_rows"])

    def check(self, n):
        out, truth, failed = self.out_dir(n), self.truth, set()
        lang = self.spark.read.parquet(f"{out}/lang")
        scored = self.spark.read.parquet(f"{out}/scored")
        if lang.where("pred_lang IS NULL AND text IS NOT NULL").count() or lang.count() != truth["n_docs"]:
            failed.add("text.language_id")
        if scored.where("quality < 0 OR quality > 1").count() or scored.count() != truth["n_docs"]:
            failed.add("text.quality_score")
        verdicts = self.spark.read.parquet(f"{out}/verdicts").collect()
        stage = {r["doc_id"]: (r["stage"], r["survivor_of"]) for r in verdicts}
        by_stage = {}
        for s, _ in stage.values():
            by_stage[s] = by_stage.get(s, 0) + 1
        near_ok = all(
            gen.jaccard(self.texts[d], self.texts[sv]) >= self.TAU
            for d, (s, sv) in stage.items()
            if s == "near"
        )
        if (
            len(stage) != truth["n_docs"]
            or by_stage.get("short", 0) != truth["short"]
            or by_stage.get("exact", 0) != truth["exact"]
            or not near_ok
        ):
            failed.add("dedup.dedup_corpus")
        found = {(r["new_doc_id"], r["dup_of"]) for r in self.probe_rows}
        probe_ok = set(map(tuple, truth["copy_pairs"])) <= found and all(
            gen.jaccard(self.texts[r["new_doc_id"]], self.texts[r["dup_of"]]) >= self.TAU - 1e-6
            for r in self.probe_rows
        )
        if not probe_ok:
            failed.add("dedup.minhash_index_probe")
        if self.live_docs != truth["live_docs_after_delete"]:
            failed.add("dedup.minhash_index_compact")
        # planted near pairs whose later-id member the waterfall removed
        hit = sum(stage.get(max(a, b), ("kept",))[0] in ("near", "exact") for a, b in truth["near_pairs"])
        self.recall = hit / len(truth["near_pairs"])
        removed = sum(v for k, v in by_stage.items() if k != "kept")
        self.counts = {
            "dedup.near_pairs": by_stage.get("near", 0),
            "dedup.removed_frac": removed / max(1, len(stage)),
            "state.index_bytes_per_live_row_before_compact": self.index_bpr[0],
            "state.index_bytes_per_live_row_after_compact": self.index_bpr[1],
        }
        return failed


class VectorIndex(Workload):
    """IVF-Flat index lifecycle: build, probe the queries, ingest,
    delete, compact, probe again."""

    name = "vector_index"
    K = 10

    def stage(self):
        s = self.size
        tables, self.truth = gen.vectors(self.seed, s["n"], n_queries=s["queries"], k=self.K)
        self._write(tables)

    def _probe(self, tr, path):
        """The query set as ``batches`` probe calls."""
        from spark_data_test_spark import ivf_index_probe

        nb, rows = self.size["batches"], []
        for b in range(nb):
            batch = self._read("queries").where(f"vec_id % {nb} = {b}")
            with tr.span("similarity.ivf_index_probe"):
                rows += ivf_index_probe(batch, path, k=self.K, nprobe=self.size["nprobe"]).collect()
        return rows

    def round(self, tr, n):
        from spark_data_test_spark import (
            ivf_index_build,
            ivf_index_compact,
            ivf_index_delete,
            ivf_index_ingest,
        )

        path = f"{self.out_dir(n)}/ivf"
        with tr.span("similarity.ivf_index_build"):
            ivf_index_build(self._read("corpus"), path)
        self.rows = {"before": self._probe(tr, path)}
        if n == 0:
            self._exhaustive_check(path)
        with tr.span("similarity.ivf_index_ingest"):
            ivf_index_ingest(self._read("ingest"), path)
        with tr.span("similarity.ivf_index_delete"):
            ivf_index_delete(self.spark, path, self._read("delete"))
        self.index_bpr = [self._index_bytes_per_row(path)]
        with tr.span("similarity.ivf_index_compact"):
            ivf_index_compact(self.spark, path)
        self.index_bpr.append(self._index_bytes_per_row(path))
        self.rows["after"] = self._probe(tr, path)
        return {"main": 2 * self.size["queries"], "ingest": self.truth["n_ingest"]}

    def _index_bytes_per_row(self, path):
        from spark_data_test_spark import ivf_index_stats

        self.live = ivf_index_stats(self.spark, path).first()["n_live"]
        return _dir_bytes(path) / max(1, self.live)

    def _exhaustive_check(self, path):
        """nprobe = cell count must return the exact top-k."""
        from spark_data_test_spark import ivf_index_probe, read_state_table

        ncells = read_state_table(self.spark, f"{path}/centroids").count()
        q = self._read("queries").where(f"vec_id < {10**6 + 20}")
        rows = ivf_index_probe(q, path, k=self.K, nprobe=ncells).collect()
        self.exhaustive_ok = self._recall(rows, "before", exact=True)

    def _recall(self, rows, phase, exact=False):
        ids, cos = self.truth[phase]
        got = {}
        for r in rows:
            got.setdefault(r["query_id"] - 10**6, []).append((r["rank"], r["neighbor_id"]))
        if exact:
            for i, lst in got.items():
                mine, want = [nid for _r, nid in sorted(lst)], list(ids[i])
                # a differing id is only allowed on a cosine tie at rank k
                if mine != want and (len(mine) != len(want) or abs(cos[i][-1] - cos[i][-2]) > 1e-9):
                    return False
            return bool(got)
        hits = sum(len({nid for _r, nid in got.get(i, [])} & set(ids[i])) for i in range(len(ids)))
        return hits / (len(ids) * self.K)

    def check(self, n):
        failed = set()
        for phase, rows in self.rows.items():
            if any(r["query_id"] == r["neighbor_id"] for r in rows) or len(rows) != len(self.truth[phase][0]) * self.K:
                failed.add("similarity.ivf_index_probe")
        if n == 0 and not self.exhaustive_ok:
            failed.add("similarity.ivf_index_probe")
        if self.live != self.truth["n_live_after"]:
            failed.add("similarity.ivf_index_compact")
        self.recall = (self._recall(self.rows["before"], "before") + self._recall(self.rows["after"], "after")) / 2
        self.counts = {
            "state.index_bytes_per_live_row_before_compact": self.index_bpr[0],
            "state.index_bytes_per_live_row_after_compact": self.index_bpr[1],
        }
        return failed


WORKLOADS = {w.name: w for w in (CompareJob, CorpusCuration, VectorIndex)}
