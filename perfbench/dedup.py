"""One pass of the LLM-data extension over a corpus, phase by phase,
through the dedup and vector operators' public functions.

Each phase is one span; the op span ``dedup`` covers the whole pass, from
the first read of the corpus until the survivors are written and the
embedding near-duplicate pairs are collected.
"""

from __future__ import annotations

import dataclasses
import os

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mistocksync_spark.operators.dedup import (
    connected_components,
    dedup_survivors,
    exact_dedup,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
    shingle_table,
)
from mistocksync_spark.operators.vectors import cosine_near_dup_pairs
from perfbench import checks, gen

# the phase spans under ``dedup``, in call order
PHASES = ("dedup.exact", "dedup.lsh", "dedup.cc", "dedup.survivors", "vectors.near_dup")

NEAR_DUP_COSINE = 0.99


@dataclasses.dataclass
class DedupResult:
    exact_groups: list[tuple]  # (text_hash, keep_id, occurrences) with occurrences > 1
    lsh_pairs: DataFrame  # checkpointed (doc_a, doc_b) candidate pairs
    lsh_pair_count: int
    survivors_path: str
    vector_pairs: list[tuple]  # (vec_a, vec_b, cos_sim)


def dedup_once(spark: SparkSession, tracer, docs_path: str, emb_path: str, out_dir: str) -> DedupResult:
    survivors_path = os.path.join(out_dir, "survivors.parquet")
    with tracer.span("dedup"):
        with tracer.span("dedup.exact"):
            docs = spark.read.parquet(docs_path)
            exact_groups = [tuple(r) for r in exact_dedup(docs).filter(F.col("occurrences") > 1).collect()]

        with tracer.span("dedup.lsh"):
            # both sides of the band self-join read the banded signatures,
            # and the components loop reads the pairs once per round:
            # persisting them is the caller's decision
            bands = lsh_bands(minhash_signatures(shingle_table(docs), 8), 2).localCheckpoint(eager=False)
            pairs = lsh_candidate_pairs(bands).localCheckpoint()
            lsh_pair_count = pairs.count()

        with tracer.span("dedup.cc"):
            labels = connected_components(pairs)

        with tracer.span("dedup.survivors"):
            dedup_survivors(docs, labels=labels).write.mode("overwrite").parquet(survivors_path)

        with tracer.span("vectors.near_dup"):
            emb = spark.read.parquet(emb_path)
            vector_pairs = [tuple(r) for r in cosine_near_dup_pairs(emb, threshold=NEAR_DUP_COSINE).collect()]

    return DedupResult(
        exact_groups=exact_groups,
        lsh_pairs=pairs,
        lsh_pair_count=lsh_pair_count,
        survivors_path=survivors_path,
        vector_pairs=vector_pairs,
    )


class DedupWorkload:
    """The seeded corpora of a dedup workload, one timed pass over them and
    its untimed output check.  Pass ``i`` reads corpus ``i`` (documents and
    embeddings), generated on first use."""

    op = "dedup"

    def __init__(self, work: str, seed: int, docs: int, vectors: int):
        self.work, self.seed, self.n_docs, self.n_vectors = work, seed, docs, vectors
        self.corpora: list[tuple] = []
        self.corpus(0)

    def corpus(self, i: int) -> tuple:
        """(documents, embeddings, documents path, embeddings path) of
        corpus ``i``."""
        while len(self.corpora) <= i:
            n = len(self.corpora)
            docs = gen.corpus(np.random.default_rng([self.seed, 2, n]), self.n_docs)
            emb = gen.embeddings(np.random.default_rng([self.seed, 3, n]), self.n_vectors)
            paths = (os.path.join(self.work, f"documents{n}.parquet"), os.path.join(self.work, f"embeddings{n}.parquet"))
            gen.write_parquet(docs, paths[0])
            gen.write_parquet(emb, paths[1])
            self.corpora.append((docs, emb, *paths))
        return self.corpora[i]

    def rows(self, i: int) -> int:
        return self.corpus(i)[0].num_rows

    def run(self, spark: SparkSession, tracer, i: int) -> DedupResult:
        _, _, docs_path, emb_path = self.corpus(i)
        return dedup_once(spark, tracer, docs_path, emb_path, os.path.join(self.work, f"pass{i}"))

    def verify(self, i: int, res: DedupResult, with_oracle: bool) -> tuple[list[str], dict]:
        """Failures of pass ``i`` (empty = correct) and its row counts."""
        docs, emb, _, _ = self.corpus(i)
        obs = checks.ObservedDedup(
            exact_groups=set(res.exact_groups),
            lsh_pairs=[tuple(r) for r in res.lsh_pairs.collect()],
            lsh_pair_count=res.lsh_pair_count,
            survivors=pq.read_table(res.survivors_path, columns=["doc_id"]).column("doc_id").to_pylist(),
            vector_pairs=res.vector_pairs,
        )
        fails = checks.check_dedup(docs, emb, obs, gen.EMBEDDING_COPIES, NEAR_DUP_COSINE)
        if with_oracle:
            fails += checks.oracle_dedup(docs, obs)
        counts = dict(
            docs=docs.num_rows,
            lsh_pairs=res.lsh_pair_count,
            survivors=len(obs.survivors),
            vector_pairs=len(res.vector_pairs),
        )
        return fails, counts
