"""corpus_curate: batch training-data curation.

Each operation trains a model and applies it, calling the library's
public operators directly on a corpus generated for that operation
alone, so training runs every time and never becomes a memo lookup:

- ``lloyd_kmeans`` + ``semantic_dedup`` over embeddings,
- ``pq_train`` + ``pq_adc_topk`` over embeddings,
- ``bpe_train_merges`` + ``bpe_tokenize`` over documents,
- ``minhash_near_dup_pairs`` + ``connected_components`` over documents.

Parameters are the registry gates' (``semantic_dedup_embeddings``,
``ann_pq_adc_topk``, ``bpe_tokenize_docs``, ``near_dup_clusters_docs``),
so each output is checked against that gate's DuckDB oracle.
"""

from __future__ import annotations

import time
from pathlib import Path

import gen
from checks import compare_frames, duck_frame
from harness import Op, Pass, Workload

KINDS = ("semantic", "pq", "bpe", "minhash")
N_VECTORS = 800
N_DOCS = 300
#: oracle (registry gate) that checks each kind's output
ORACLE_OF = {
    "semantic": "semantic_dedup_embeddings",
    "pq": "ann_pq_adc_topk",
    "bpe": "bpe_tokenize_docs",
    "minhash": "near_dup_clusters_docs",
}


def curate(kind: str, spark, corpus: Path, persisted: list):
    """One train-and-apply pair on ``corpus``; returns the output
    DataFrame (the model training runs eagerly inside)."""
    from pyspark.sql import functions as F

    from cdk_datalake_ingest_spark import queries as q
    from cdk_datalake_ingest_spark.functions import pq
    from cdk_datalake_ingest_spark.operators import cluster, corpus as oc, dedup
    from cdk_datalake_ingest_spark.operators import semantic

    if kind in ("semantic", "pq"):
        emb = spark.read.parquet(str(corpus / "embeddings.parquet"))
        if kind == "semantic":
            _, cents = semantic.lloyd_kmeans(
                emb, k=q._KM_K, iters=q._KM_ITERS, dim=q._KM_DIM
            )
            return semantic.semantic_dedup(
                emb, k=q._KM_K, iters=q._KM_ITERS, threshold=q._SEM_THRESHOLD,
                dim=q._KM_DIM, centroids=cents,
            )
        books = pq.pq_train(
            emb, m=q._PQ_M, k=q._PQ_K, iters=q._PQ_ITERS, dim=q._KM_DIM
        )
        return pq.pq_adc_topk(
            emb, emb.filter(F.col("vec_id") < 8), q._PQ_TOPK, books,
            refine=q._PQ_REFINE,
        )
    docs = spark.read.parquet(str(corpus / "documents.parquet"))
    if kind == "bpe":
        table = oc.bpe_train_merges(docs, n_merges=6).orderBy("step").collect()
        out = oc.bpe_tokenize(docs, [(r["lhs"], r["rhs"]) for r in table], mode="vocab")
        toks = F.coalesce(F.col("bpe_tokens"), F.array().cast("array<string>"))
        return out.select(
            "doc_id",
            F.array_join(toks, " ").alias("bpe_text"),
            F.size(toks).alias("n_bpe_tokens"),
        )
    pairs = dedup.minhash_near_dup_pairs(
        docs, "doc_id", "text", num_hashes=32, bands=8, jaccard_threshold=0.5,
        persisted=persisted,
    )
    assign = cluster.connected_components(pairs, "id_a", "id_b")
    clustered = cluster.attach_components(
        docs.select("doc_id"), assign, "doc_id", component_col="cluster_rep"
    )
    sizes = clustered.groupBy("cluster_rep").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return clustered.join(F.broadcast(sizes), "cluster_rep").select(
        "doc_id", "cluster_rep", "cluster_size",
        (F.col("doc_id") == F.col("cluster_rep")).alias("is_rep"),
    )


class CorpusCurate(Workload):
    nominal_op_s = 1.5
    min_ops = 12

    def setup(self, work: Path) -> None:
        self.work = work
        n = self.n_ops
        passes = 2 if self.bench.trace else 1
        # corpus -1 .. -4: warm-up, one per kind
        self.corpora: dict[int, tuple[str, Path, int, int]] = {}
        for i in range(-len(KINDS), n * passes):
            kind = KINDS[i % len(KINDS)]
            rng = gen.rng_for(self.bench.seed, 4, i + len(KINDS))
            d = work / f"c{i + len(KINDS):04d}"
            if kind in ("semantic", "pq"):
                table = gen.embeddings(rng, N_VECTORS)
                n_bytes = gen.write_parquet(table, d / "embeddings.parquet")
            else:
                table, _ = gen.documents(rng, N_DOCS, dup_share=0.1)
                n_bytes = gen.write_parquet(table, d / "documents.parquet")
            self.corpora[i] = (kind, d, table.num_rows, n_bytes)
        self._pass = 0
        for i in range(-len(KINDS), 0):
            self._op(i)

    def _op(self, i: int):
        kind, d, _rows, _bytes = self.corpora[i]
        persisted: list = []
        out = curate(kind, self.bench.spark, d, persisted)
        self.bench.force(out)
        for df in persisted:
            df.unpersist()
        return out

    def reset(self) -> None:
        self._pass = 1

    def run(self) -> Pass:
        bench = self.bench
        ops = []
        self.outputs = {}
        start = time.time()
        for j in range(self.n_ops):
            i = j + self._pass * self.n_ops
            kind, _d, rows, n_bytes = self.corpora[i]
            bench.op_group(j)
            t0 = time.time()
            out = self._op(i)
            t1 = time.time()
            self.outputs.setdefault(kind, (i, out))
            bench.spark.catalog.clearCache()
            op = Op(kind, t0, t1, rows, n_bytes)
            bench.after_op(op)
            ops.append(op)
        return Pass(ops, start, time.time())

    def instrument(self, tracer) -> None:
        from cdk_datalake_ingest_spark.functions import pq
        from cdk_datalake_ingest_spark.operators import cluster, corpus, dedup
        from cdk_datalake_ingest_spark.operators import semantic

        for owner, attr, name in (
            (semantic, "lloyd_kmeans", "operators.semantic.lloyd_kmeans"),
            (semantic, "semantic_dedup", "operators.semantic.semantic_dedup"),
            (pq, "pq_train", "functions.pq.pq_train"),
            (pq, "pq_adc_topk", "functions.pq.pq_adc_topk"),
            (corpus, "bpe_train_merges", "operators.corpus.bpe_train_merges"),
            (corpus, "bpe_tokenize", "operators.corpus.bpe_tokenize"),
            (dedup, "minhash_near_dup_pairs",
             "operators.dedup.minhash_near_dup_pairs"),
            (cluster, "connected_components",
             "operators.cluster.connected_components"),
        ):
            tracer.wrap(owner, attr, name)

    def check(self) -> list[str]:
        """The first output of each kind against its gate's DuckDB
        oracle over the same corpus."""
        from cdk_datalake_ingest_spark.queries import ORACLES

        problems = []
        for kind, (i, out) in sorted(self.outputs.items()):
            _k, d, _r, _b = self.corpora[i]
            views = {p.stem: p for p in d.glob("*.parquet")}
            problems += compare_frames(
                f"{kind} (corpus {i})", out.toPandas(),
                duck_frame(ORACLES[ORACLE_OF[kind]], views),
            )
        return problems
