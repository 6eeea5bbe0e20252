"""``llm_dedup_search``: the LLM-pipeline plane, with no Delta log at all.

Inputs (written to a bench-owned ``sf_dir``): generated ``documents``
with injected exact copies and near-duplicates, and ``embeddings``
(unit vectors around a few centroids) plus seeded query batches near
existing vectors.

The ops are the three registry dedup passes (``exact_dedup_documents``,
``minhash_lsh_neardup``, ``doc_substring_dedup``; none is
session-staged, so repeats do real work) and two search ops on fresh
query batches: ``brute_force_topk`` and ``lsh_bucket_candidates``. The
search ops are this workload's reads (``read_p50_ms``); the passes
count towards ``ops_per_s`` and ``rows_per_s`` only. A block runs each
heavy pass once, after ``SEARCH_ROUNDS`` rounds of the light ops; the
warm-up runs every op once. Passes are checked
against the registry's own DuckDB oracle SQL; exact top-k against
numpy; LSH candidates against the bucket-partition property, with
recall@k against the exact top-k reported per layer.

This workload calls no Delta module: a Delta-layer change predicts no
change here.
"""

from __future__ import annotations

import os
import shutil
import statistics

import numpy as np

from perfbench import inputs
from perfbench.harness import expect

N_DOCS, N_EXACT, N_NEAR = 1_200, 60, 60
N_VECS, N_QUERIES, K = 2_000, 16, 10
LSH_PLANES = 4
QUERY_ID0 = 1_000_000
PASSES = ["exact_dedup_documents", "minhash_lsh_neardup", "doc_substring_dedup"]
# Light ops (both searches and the exact pass) run this many times before
# each of the two heavy passes, so the heavy passes' run-to-run noise is
# a smaller share of a block and the read median has eight samples.
SEARCH_ROUNDS = 2


def substring_dedup_oracle(texts: list[str], gram: int) -> list[tuple]:
    """``doc_substring_dedup`` semantics in plain Python: a gram position
    is duplicated when its ``gram``-token sequence occurs elsewhere and is
    not the first occurrence (min (doc_id, pos)); removed tokens are the
    union of duplicated spans. Used instead of the entry's DuckDB SQL,
    whose peak memory at this corpus size is several GiB."""
    toks = [t.split() for t in texts]
    first: dict[tuple, tuple[int, int]] = {}
    count: dict[tuple, int] = {}
    for d, t in enumerate(toks):
        for p in range(len(t) - gram + 1):
            g = tuple(t[p : p + gram])
            count[g] = count.get(g, 0) + 1
            first.setdefault(g, (d, p))
    rows = []
    for d, t in enumerate(toks):
        dup = [
            p for p in range(len(t) - gram + 1)
            if count[g := tuple(t[p : p + gram])] > 1 and first[g] != (d, p)
        ]
        removed = len({p + i for p in dup for i in range(gram)})
        rows.append((d, len(t), len(dup), removed, len(t) - removed))
    return rows


class LlmDedupSearch:
    BUILD_REPEATS = 3  # input generation is cheap: setup_s takes the median
    SESSION_CONF: dict[str, str] = {}

    def __init__(self, spark, work: str, seed: int, rec, tracer):
        self.spark, self.seed, self.rec, self.tracer = spark, seed, rec, tracer
        self.sf_dir = os.path.join(work, "inputs", "sf")
        self.batch = 0
        self.oracle: dict[str, list] = {}
        self.lsh: list[tuple[int, float]] = []  # (candidates, recall@k) per query
        self.neardup_recall: list[float] = []

    def build(self) -> None:
        import duckdb

        from bench import SESSION_STAGED

        # a staged entry's repeats are session-cache hits, not real work
        expect(not SESSION_STAGED & set(PASSES), "session-staged registry entry")
        shutil.rmtree(self.sf_dir, ignore_errors=True)
        os.makedirs(self.sf_dir)
        docs, self.near_pairs = inputs.documents(
            inputs.rng_for(self.seed, 10), N_DOCS, N_EXACT, N_NEAR
        )
        inputs.write(docs, os.path.join(self.sf_dir, "documents.parquet"))
        emb, self.vecs = inputs.embeddings(inputs.rng_for(self.seed, 11), N_VECS)
        inputs.write(emb, os.path.join(self.sf_dir, "embeddings.parquet"))
        self.n_docs = docs.num_rows
        self.texts = docs["text"].to_pylist()
        self.duck = duckdb.connect()
        self.duck.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{os.path.join(self.sf_dir, 'documents.parquet')}')"
        )
        self.oracle.clear()

    # ------------------------------------------------------------ passes

    def _pass(self, name: str) -> None:
        from levi_spark import queries

        from tools.oracle_check import frame_key

        def run():
            df = getattr(queries, name)(self.spark, self.sf_dir)
            with self.tracer.span(f"queries.{name}.collect", "queries"):
                return df.columns, [tuple(r) for r in df.collect()]

        def check(res):
            cols, rows = res
            if name == "doc_substring_dedup" and name not in self.oracle:
                ocols = ["doc_id", "n_tokens", "n_dup_positions", "n_tokens_removed",
                         "n_tokens_kept"]
                orows = substring_dedup_oracle(self.texts, queries.SUBSTR_L)
                self.oracle[name] = (sorted(ocols), frame_key(orows, ocols))
            elif name not in self.oracle:
                rel = self.duck.execute(queries.QUERIES[name][1])
                ocols = [d[0] for d in rel.description]
                self.oracle[name] = (sorted(ocols), frame_key(rel.fetchall(), ocols))
            ocols, okey = self.oracle[name]
            expect(sorted(cols) == ocols, f"{name}: columns {cols}")
            expect(frame_key(rows, cols) == okey, f"{name}: rows differ from the oracle")
            if name == "minhash_lsh_neardup" and self.rec.measuring:
                found = {(r[cols.index("doc_a")], r[cols.index("doc_b")]) for r in rows}
                hit = sum((min(p), max(p)) in found for p in self.near_pairs)
                self.neardup_recall.append(hit / len(self.near_pairs))

        self.rec.op("pass", name, run, check, rows=self.n_docs)

    # ------------------------------------------------------------ search

    def _queries(self):
        rng = inputs.rng_for(self.seed, 12, self.batch)
        t, q = inputs.query_batch(rng, self.vecs, N_QUERIES, QUERY_ID0 + self.batch * N_QUERIES)
        path = inputs.write(t, os.path.join(self.sf_dir, f"queries_{self.batch}.parquet"))
        self.batch += 1
        ids = t["vec_id"].to_numpy()
        scores = q.astype(np.float64) @ self.vecs.astype(np.float64).T
        return path, ids, scores

    def _exact_topk(self, scores: np.ndarray) -> np.ndarray:
        return np.argsort(-scores, axis=1, kind="stable")[:, :K]

    def _brute_force(self) -> None:
        from levi_spark.functions.similarity import brute_force_topk

        path, ids, scores = self._queries()
        emb = os.path.join(self.sf_dir, "embeddings.parquet")

        def run():
            df = brute_force_topk(
                self.spark.read.parquet(path), self.spark.read.parquet(emb), K
            )
            with self.tracer.span("functions.similarity.brute_force_topk.collect",
                                  "functions.similarity"):
                return df.collect()

        def check(rows):
            kth = np.sort(scores, axis=1)[:, -K]
            qpos = {int(q): i for i, q in enumerate(ids)}
            per_q = {}
            for r in rows:
                i = qpos[r["query_id"]]
                exact = scores[i, r["neighbor_id"]]
                expect(abs(r["score"] - exact) <= 2e-6, f"score {r['score']} vs {exact}")
                expect(exact >= kth[i] - 2e-6, f"query {r['query_id']}: not a top-{K} hit")
                per_q[i] = per_q.get(i, 0) + 1
            expect(per_q == {i: K for i in range(len(ids))}, "top-k row counts")

        self.rec.op("read", "brute_force_topk", run, check, rows=N_VECS + N_QUERIES)

    def _lsh(self) -> None:
        from pyspark.sql import functions as F

        from levi_spark.functions.similarity import lsh_bucket_candidates

        path, ids, scores = self._queries()
        emb = os.path.join(self.sf_dir, "embeddings.parquet")

        def run():
            c = lsh_bucket_candidates(self.spark.read.parquet(emb), LSH_PLANES)
            q = lsh_bucket_candidates(self.spark.read.parquet(path), LSH_PLANES)
            pairs = q.select(F.col("vec_id").alias("query_id"), "bucket").join(
                c.select(F.col("vec_id").alias("neighbor_id"), "bucket"), "bucket"
            )
            with self.tracer.span("functions.similarity.lsh_bucket_candidates.collect",
                                  "functions.similarity"):
                return pairs.select("query_id", "neighbor_id", "bucket").collect()

        def check(rows):
            cands: dict[int, set] = {int(q): set() for q in ids}
            bucket_of: dict[int, int] = {}
            for r in rows:
                expect(r["query_id"] in cands, "unknown query id")
                cands[r["query_id"]].add(r["neighbor_id"])
                expect(bucket_of.setdefault(r["neighbor_id"], r["bucket"]) == r["bucket"],
                       "a vector in two buckets")
            sets = {frozenset(s) for s in cands.values() if s}
            union = set().union(*sets) if sets else set()
            expect(sum(len(s) for s in sets) == len(union), "candidate sets overlap")
            expect(len(rows) == sum(len(s) for s in cands.values()), "duplicate pairs")
            if self.rec.measuring:
                top = self._exact_topk(scores)
                for i, q in enumerate(ids):
                    hit = len(cands[int(q)] & set(top[i].tolist()))
                    self.lsh.append((len(cands[int(q)]), hit / K))

        self.rec.op("read", "lsh_bucket_candidates", run, check, rows=N_VECS + N_QUERIES)

    # ------------------------------------------------------------ loop

    def block(self) -> None:
        for heavy in PASSES[1:]:
            for _ in range(SEARCH_ROUNDS):
                self._brute_force()
                self._pass(PASSES[0])
                self._lsh()
            self._pass(heavy)

    def warm_up(self) -> None:
        self._brute_force()
        self._lsh()
        for name in PASSES:
            self._pass(name)

    def start_measuring(self) -> None:
        pass

    def layer_metrics(self) -> dict:
        traced = [r for r in self.rec.records if r.traced]
        med = lambda name: statistics.median(  # noqa: E731
            [r.seconds for r in traced if r.name == name] or [0.0]) * 1e3
        m = {
            "functions.similarity.brute_force_topk_ms": med("brute_force_topk"),
            "functions.similarity.lsh_bucket_candidates_ms": med("lsh_bucket_candidates"),
            "functions.similarity.lsh_candidates_per_query":
                statistics.mean(c for c, _ in self.lsh),
            "functions.similarity.lsh_recall_at_k": statistics.mean(r for _, r in self.lsh),
            "functions.text.neardup_injected_recall": statistics.mean(self.neardup_recall),
        }
        for name in PASSES:
            m[f"queries.{name}_ms"] = med(name)
        return m

    def detail(self) -> dict:
        return {"documents": self.n_docs, "vectors": N_VECS}
