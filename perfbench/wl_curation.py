"""Corpus-curation part of ``staged_analytics_mix``: compute-bound curation
over a seeded corpus.

Set-up generates the corpus (documents with stated exact- and near-duplicate
shares, 64-dim clustered embeddings with a stated near-duplicate share) and
writes it as parquet.  The full load stages documents (sorted on their
shard) and embeddings, and builds IVF-PQ generation 1 over the first
quarter of the vectors.  Ops, in seeded order, each work on one document or
vector shard:

- ``operators.dedup``: exact dedup, MinHash verified pairs;
- ``operators.corpus``: connected components over exact-duplicate edges;
- ``operators.similarity``: ``plan_semantic_dedup``-sized semantic pairs,
  ``ivfpq_append_current`` of the next vector slice, ``ivfpq_topk_current``
  query batches;
- ``functions.text``: quality scoring.

Checks: dedup results against brute force on a seeded document sample,
semantic pairs against numpy cosine on a sample, recall@10 of index queries
against numpy brute force above ``RECALL_AT_10_FLOOR``.  Each floor is set
below the engine's measured behaviour on this corpus, with margin.
"""

from __future__ import annotations

import os

import numpy as np

import gen
import harness
from tracing import BENCH, plan_counts

ACCOUNT = "cur"
INDEX_FRACTION = 0.25  # generation 1 indexes the first quarter of the vectors
APPEND_SLICE = 250  # vectors per ivfpq_append_current op
EMB_SHARDS = 16
SAMPLE_DOCS = 300  # brute-force sample per dedup check
SEM_THRESHOLD = 0.9  # the duplicate regime of plan_semantic_dedup
SEM_TARGET_RECALL = 0.9
MINHASH_THRESHOLD = 0.5
TOPK = 10
# 16 bands x 4 rows make a pair with Jaccard >= 0.7 a candidate with
# probability >= 0.98; nearer the 0.5 threshold LSH recall falls by design
MINHASH_SURE_JACCARD = 0.7
MINHASH_SAMPLE_RECALL_FLOOR = 0.9
SEM_SAMPLE_RECALL_FLOOR = 0.8
RECALL_AT_10_FLOOR = 0.5


def grams(text: str) -> set:
    """Word 3-grams."""
    toks = text.split()
    return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}


class CorpusCuration:
    span = harness.NullSpan

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.recalls: list[float] = []
        self.minhash_recall: list[float] = []
        self.pair_stats: dict[str, list[int]] = {}
        self.py_evals: dict[str, int] = {}
        self._grams: dict[int, tuple] = {}

    def tenant_pids(self) -> set[int]:
        return set()

    def release(self) -> None:
        pass

    def prepare_inputs(self) -> None:
        """Corpus generation; needs no Spark session."""
        self.data = os.path.join(self.work, "data")
        harness.reset_dir(self.data)
        harness.reset_dir(os.path.join(self.work, "wh"))
        self.corpus = gen.corpus(self.seed)
        gen.write_parquet_dir(
            {"documents": self.corpus["documents"], "embeddings": self.corpus["embeddings"]}, self.data
        )
        self.ops = gen.curation_ops(self.seed)
        self.texts = self.corpus["documents"].column("text").to_pylist()
        emb = self.corpus["embeddings"].column("embedding")
        self.vecs = np.stack(emb.to_numpy(zero_copy_only=False)).astype(np.float64)
        self.n_indexed = int(len(self.vecs) * INDEX_FRACTION)

    def prepare(self, spark) -> None:
        from priority_data_pipeline_postgres_db_spark.operators.staging import StagingWarehouse
        from priority_data_pipeline_postgres_db_spark.sources.control import ControlStore

        self.spark = spark
        control_path = os.path.join(self.work, "index_control.json")
        if os.path.exists(control_path):
            os.remove(control_path)
        self.control = ControlStore(control_path)
        self.wh = StagingWarehouse(spark, os.path.join(self.work, "wh"), account_id=ACCOUNT)

    def roots(self) -> list[str]:
        return [os.path.join(self.work, "wh")]

    def full_load(self) -> None:
        from pyspark.sql import functions as F

        from priority_data_pipeline_postgres_db_spark.operators import similarity as sim

        # sorted on the shard column, so each file's zone map covers few shards
        docs = self.spark.read.parquet(f"{self.data}/documents.parquet")
        self.wh.write(docs.withColumn("shard", F.col("doc_id") % gen.CORPUS_SHARDS).orderBy("shard"),
                      "documents", incremental=False)
        emb = self.spark.read.parquet(f"{self.data}/embeddings.parquet").drop("label")
        self.wh.write(emb, "embeddings", incremental=False)
        sim.build_ivfpq_versioned(
            self.wh.read("embeddings", where=[("vec_id", "<", self.n_indexed)]), self.wh, self.control
        )

    def after_warmup(self) -> None:
        self.recalls.clear()
        self.minhash_recall.clear()
        self.pair_stats.clear()
        self.py_evals.clear()

    # -- inputs of one op ------------------------------------------------------
    def _docs(self, shard: int):
        return self.wh.read("documents", where=[("shard", "==", shard)]).drop("shard")

    def _shard_ids(self, shard: int) -> np.ndarray:
        return np.arange(shard, len(self.texts), gen.CORPUS_SHARDS)

    def _emb(self, shard: int):
        from pyspark.sql import functions as F

        return self.wh.read("embeddings").filter(F.col("vec_id") % EMB_SHARDS == shard)

    # -- ops ---------------------------------------------------------------------
    def run_op(self, i: int, ctx: dict) -> None:
        from pyspark.sql import functions as F

        from priority_data_pipeline_postgres_db_spark.functions import text as txt
        from priority_data_pipeline_postgres_db_spark.operators import corpus as cp
        from priority_data_pipeline_postgres_db_spark.operators import dedup as dd
        from priority_data_pipeline_postgres_db_spark.operators import similarity as sim

        op = ctx["op"]
        name, layer = op["name"], op["layer"]
        shard = op["slice"] % gen.CORPUS_SHARDS
        if name == "exact_dedup":
            df = dd.exact_dedup(self._docs(shard), F.md5(dd.normalized_text()), "doc_id", ["doc_id"])
            with self.span(layer, "collect exact_dedup"):
                ctx["result"] = {r[0] for r in df.select("doc_id").collect()}
        elif name == "minhash_verified_pairs":
            df = dd.minhash_verified_pairs(self._docs(shard), n=3, threshold=MINHASH_THRESHOLD)
            with self.span(layer, "collect minhash_verified_pairs"):
                ctx["result"] = {(r[0], r[1]) for r in df.select("doc_id_a", "doc_id_b").collect()}
        elif name == "connected_components":
            docs = self._docs(shard)
            fp = docs.select("doc_id", F.md5(dd.normalized_text()).alias("fp"))
            a, b = fp.alias("a"), fp.alias("b")
            edges = a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id"))).select(
                F.col("a.doc_id").alias("doc_id_a"), F.col("b.doc_id").alias("doc_id_b"))
            df = cp.connected_components(docs.select("doc_id"), edges, restore_singletons=False)
            with self.span(layer, "collect connected_components"):
                ctx["result"] = {(r[0], r[1]) for r in df.collect()}
        elif name == "semantic_pairs_resharded":
            emb = self._emb(op["slice"] % EMB_SHARDS)
            n = len(range(op["slice"] % EMB_SHARDS, len(self.vecs), EMB_SHARDS))
            plan = sim.plan_semantic_dedup(n, SEM_TARGET_RECALL, threshold=SEM_THRESHOLD)
            df = sim.semantic_pairs_resharded(emb, gen.EMB_DIM, plan=plan)
            with self.span(layer, "collect semantic_pairs"):
                ctx["result"] = {(r[0], r[1]) for r in df.select("vec_id_a", "vec_id_b").collect()}
        elif name == "ivfpq_append_current":
            lo = self.n_indexed
            if lo >= len(self.vecs):
                ctx["result"] = None  # every vector is indexed; nothing left to append
                return
            hi = min(lo + APPEND_SLICE, len(self.vecs))
            new = self.wh.read("embeddings", where=[("vec_id", ">=", lo), ("vec_id", "<", hi)])
            ctx["result"] = sim.ivfpq_append_current(new, self.wh, self.control, batch_id=f"append-{lo:06d}")
            df = None
            ctx["range"] = (lo, hi)
            self.n_indexed = hi
        elif name == "ivfpq_topk_current":
            emb = self.wh.read("embeddings")
            queries = emb.filter(F.col("vec_id").isin(op["queries"]))
            df = sim.ivfpq_topk_current(self.wh, self.control, emb, queries, k=TOPK)
            with self.span(layer, "collect ivfpq_topk"):
                ctx["result"] = [(r["query_id"], r["neighbor_id"]) for r in df.collect()]
        else:  # quality_score_expr
            docs = txt.tokenized(self._docs(shard))
            _comps, score = txt.quality_score_expr(F.col("toks"), F.col("norm"))
            df = docs.select("doc_id", score.alias("q"))
            with self.span(layer, "collect quality_score"):
                ctx["result"] = df.agg(F.count("*"), F.min("q"), F.max("q")).collect()[0]
        ctx["df"] = df

    def check_op(self, i: int, ctx: dict, op_s: float) -> bool:
        op, res = ctx["op"], ctx["result"]
        name = op["name"]
        shard = op["slice"] % gen.CORPUS_SHARDS
        with self.span(BENCH, f"check {name}"):
            if ctx.get("df") is not None and self.span is not harness.NullSpan:
                self._instrument(op, ctx)
            if name == "exact_dedup":
                first: dict[str, int] = {}
                for d in self._shard_ids(shard):
                    first.setdefault(" ".join(self.texts[d].split()), int(d))
                return res == set(first.values())
            if name == "minhash_verified_pairs":
                return self._check_minhash(shard, res)
            if name == "connected_components":
                return res == self._exact_components(shard)
            if name == "semantic_pairs_resharded":
                return self._check_semantic(op["slice"] % EMB_SHARDS, res)
            if name == "ivfpq_append_current":
                if res is None:
                    return True
                lo, hi = ctx["range"]
                return res.get("generation") == 1 and res.get("n_appended", hi - lo) == hi - lo
            if name == "ivfpq_topk_current":
                r = self._recall(op["queries"], res)
                self.recalls.append(r)
                return r >= RECALL_AT_10_FLOOR
            n, lo, hi = res[0], res[1], res[2]
            return n == len(self._shard_ids(shard)) and 0.0 <= lo <= hi <= 1.0

    def _sample(self, ids: np.ndarray, op_salt: int) -> np.ndarray:
        rng = np.random.default_rng([self.seed, 7, op_salt])
        return np.sort(rng.choice(ids, size=min(SAMPLE_DOCS, len(ids)), replace=False))

    def _shard_grams(self, shard: int) -> tuple[dict, dict]:
        """(doc -> 3-gram set, gram -> docs) over one shard, built once."""
        if shard not in self._grams:
            per = {int(d): grams(self.texts[d]) for d in self._shard_ids(shard)}
            inv: dict = {}
            for d, gset in per.items():
                for gr in gset:
                    inv.setdefault(gr, []).append(d)
            self._grams[shard] = (per, inv)
        return self._grams[shard]

    def _check_minhash(self, shard: int, pairs: set) -> bool:
        """Every returned pair is a true pair (exact Jaccard >= threshold),
        and for a seeded sample of the shard's duplicate documents the
        brute-force pairs (every shard document sharing a 3-gram, exact
        Jaccard) with Jaccard >= ``MINHASH_SURE_JACCARD`` are found at
        least at the floor rate.  Recall over all brute-force pairs is
        recorded."""
        per, inv = self._shard_grams(shard)

        def jac(a, b):
            ga, gb = per[a], per[b]
            return len(ga & gb) / len(ga | gb) if ga and gb else 0.0

        if any(jac(a, b) < MINHASH_THRESHOLD for a, b in pairs):
            return False
        dup_ids = [d for d in per if d in self.corpus["near_of"] or d in self.corpus["exact_of"]]
        truth, sure = set(), set()
        for a in self._sample(np.asarray(dup_ids, dtype=np.int64), shard):
            a = int(a)
            for b in {b for gr in per[a] for b in inv[gr]}:
                j = jac(a, b) if a != b else 0.0
                if j >= MINHASH_THRESHOLD:
                    truth.add((min(a, b), max(a, b)))
                if j >= MINHASH_SURE_JACCARD:
                    sure.add((min(a, b), max(a, b)))
        if truth:
            self.minhash_recall.append(len(truth & pairs) / len(truth))
        return not sure or len(sure & pairs) / len(sure) >= MINHASH_SAMPLE_RECALL_FLOOR

    def _exact_components(self, shard: int) -> set:
        groups: dict[str, list[int]] = {}
        for d in self._shard_ids(shard):
            groups.setdefault(" ".join(self.texts[d].split()), []).append(int(d))
        out = set()
        for members in groups.values():
            if len(members) > 1:
                root = min(members)
                out |= {(m, root) for m in members}
        return out

    def _check_semantic(self, eshard: int, pairs: set) -> bool:
        ids = np.arange(eshard, len(self.vecs), EMB_SHARDS)
        v = self.vecs / np.linalg.norm(self.vecs, axis=1, keepdims=True)
        for a, b in pairs:
            if float(v[a] @ v[b]) < SEM_THRESHOLD - 1e-6:
                return False
        sample = self._sample(ids, 100 + eshard)
        sims = v[sample] @ v[ids].T
        truth = set()
        for r, a in enumerate(sample):
            for c in np.flatnonzero(sims[r] >= SEM_THRESHOLD + 1e-6):
                b = int(ids[c])
                if b != int(a):
                    truth.add((min(int(a), b), max(int(a), b)))
        if not truth:
            return True
        return len(truth & pairs) / len(truth) >= SEM_SAMPLE_RECALL_FLOOR

    def _recall(self, queries: list[int], res: list) -> float:
        idx = np.arange(self.n_indexed)
        v = self.vecs[idx] / np.linalg.norm(self.vecs[idx], axis=1, keepdims=True)
        got: dict[int, set] = {}
        for q, nb in res:
            got.setdefault(int(q), set()).add(int(nb))
        total = 0.0
        for q in queries:
            sims = v @ (self.vecs[q] / np.linalg.norm(self.vecs[q]))
            top = set(int(x) for x in idx[np.argsort(-sims, kind="stable")[:TOPK]])
            total += len(top & got.get(int(q), set())) / TOPK
        return total / len(queries)

    def _instrument(self, op: dict, ctx: dict) -> None:
        """Traced runs only: Python-eval nodes in the op's executed plan and
        the MinHash candidate count behind its verified pairs."""
        from priority_data_pipeline_postgres_db_spark.operators import dedup as dd

        _ex, py = plan_counts(ctx["df"])
        self.py_evals[op["layer"]] = self.py_evals.get(op["layer"], 0) + py
        if op["name"] == "minhash_verified_pairs":
            cand = dd.minhash_candidate_pairs(self._docs(op["slice"] % gen.CORPUS_SHARDS), n=3).count()
            s = self.pair_stats.setdefault("operators.dedup", [0, 0])
            s[0] += len(ctx["result"])
            s[1] += cand
        if op["name"] == "connected_components":
            # components built from exact-duplicate edges: members whose
            # text really equals their component root's
            s = self.pair_stats.setdefault("operators.corpus", [0, 0])
            s[0] += sum(1 for d, r in ctx["result"] if self.texts[d].split() == self.texts[r].split())
            s[1] += len(ctx["result"])

    def final_check(self) -> tuple[bool, int]:
        """Every document and vector is staged and the current index holds
        one posting set per indexed vector; also returns the rows visible
        through ``StagingWarehouse.read``."""
        from pyspark.sql import functions as F

        from priority_data_pipeline_postgres_db_spark.operators import similarity as sim

        phys, _gen = sim.resolve_index_table(self.control)
        n_docs = self.wh.read("documents").count()
        n_emb = self.wh.read("embeddings").count()
        index = self.wh.read(phys)
        n_post, n_vec = index.agg(F.count("*"), F.countDistinct("vec_id")).collect()[0]
        ok = n_docs == len(self.texts) and n_emb == len(self.vecs) and n_vec == self.n_indexed
        return ok, n_docs + n_emb + n_post

    def live_files(self) -> int:
        return sum(len(self.wh.data_files(t)) for t in self.wh.tables())

    def fingerprints(self) -> dict:
        return {"corpus_sha256": gen.fingerprint(
            {"documents": self.corpus["documents"], "embeddings": self.corpus["embeddings"]}),
            "ops_sha256": gen.fingerprint(self.ops)}

    def layer_extras(self, tenant_delta) -> dict:
        out = {f"{layer}.python_evals": n for layer, n in self.py_evals.items()}
        for layer in ("operators.dedup", "operators.corpus"):
            ok, tried = self.pair_stats.get(layer, [0, 0])
            out[f"{layer}.pair_precision"] = ok / tried if tried else 0.0
        out["operators.similarity.recall_at_10"] = float(np.mean(self.recalls)) if self.recalls else 0.0
        return out

    def report(self) -> dict:
        return {
            "corpus": {
                "documents": len(self.texts),
                "exact_dup_share": gen.EXACT_DUP_SHARE,
                "near_dup_share": gen.NEAR_DUP_SHARE,
                "vectors": len(self.vecs),
                "vector_near_dup_share": gen.EMB_NEAR_DUP_SHARE,
            },
            "recall_at_10": self.recalls,
            "minhash_sample_recall": self.minhash_recall,
            "indexed_vectors": self.n_indexed,
        }
