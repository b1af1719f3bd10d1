"""corpus_dedup: the LLM-data curation and deduplication pipeline.

One op runs, in order: ``plans.compiler.run_curation`` (Gopher filter, PII
redaction, exact dedup, written with observed metrics), MinHash-LSH
near-duplicate edges (``llm.dedup.minhash_dedup``), connected components
(``connected_components_star``), a keep-one-per-cluster partitioned write,
and ``llm.similarity.semantic_dedup`` over the embeddings. The generator
plants near-duplicate clusters and near-copy vectors; every op must recall
them and must produce the same cluster assignment as the first op.
"""

from __future__ import annotations

import hashlib
import os

import gen
from harness import check, dir_bytes, timed

MIN_RECALL = 0.95


class CorpusDedup:
    name = "corpus_dedup"
    warmup_ops = 1
    pass_len = 2

    def __init__(self, work: str, seed: int, tracer, base_docs: int, vectors: int):
        self.work, self.seed, self.tracer = work, seed, tracer
        self.base_docs, self.vectors = base_docs, vectors
        self.curated_path = os.path.join(work, "curated")
        self.kept_path = os.path.join(work, "kept")
        self.answer: tuple[str, str] | None = None

    def generate(self) -> None:
        self.truth = gen.corpus(
            self.seed, os.path.join(self.work, "input"), self.base_docs, self.vectors
        )
        self.op_rows = self.truth.docs + self.truth.vectors
        self.input_bytes = self.truth.input_bytes
        self.cfg = {
            "source": {"path": self.truth.docs_path, "format": "parquet"},
            "curation": {
                "id_column": "doc_id",
                "text_column": "text",
                "stages": [
                    {"type": "gopher_filter"},
                    {"type": "pii_redact"},
                    {"type": "exact_dedup"},
                ],
            },
        }
        self.planted_nodes = {n for p in self.truth.near_dup_pairs for n in p}
        self.planted_vectors = {d for _, d in self.truth.vector_dup_pairs}

    def stage(self, spark) -> None:
        pass  # every stage reads its inputs inside the op

    def _timed(self, name: str, fn):
        out, el = timed(self.tracer, name, fn)
        self.engine_s += el
        return out, el

    def op(self, spark, i: int) -> float:
        from pyspark.sql import functions as F

        from nyc_taxi_data_ingestion_spark.llm.dedup import (
            connected_components_star,
            lsh_candidate_pairs,
            minhash_dedup,
        )
        from nyc_taxi_data_ingestion_spark.llm.similarity import semantic_dedup
        from nyc_taxi_data_ingestion_spark.plans.compiler import run_curation
        from nyc_taxi_data_ingestion_spark.sources.sinks import write_partitioned

        self.engine_s = 0.0
        observed, run_s = self._timed(
            "plans.compiler.run_curation",
            lambda: run_curation(spark, self.cfg, self.curated_path))
        curated = spark.read.parquet(self.curated_path)
        edges, minhash_s = self._timed(
            "llm.dedup.minhash_dedup", lambda: minhash_dedup(curated))
        comp, components_s = self._timed(
            "llm.dedup.connected_components_star",
            lambda: connected_components_star(edges).localCheckpoint(eager=True))
        _, write_s = self._timed(
            "sources.sinks.write_partitioned",
            lambda: write_partitioned(
                curated.join(
                    comp.filter(F.col("node") != F.col("label"))
                    .select(F.col("node").alias("doc_id")),
                    "doc_id", "left_anti"),
                self.kept_path, ["lang"]))
        sem, semantic_s = self._timed(
            "llm.similarity.semantic_dedup",
            lambda: [r.vec_id for r in semantic_dedup(
                spark.read.parquet(self.truth.emb_path), threshold=0.95, num_cells=16
            ).select("vec_id").collect()])

        # -- output checks -------------------------------------------------
        t = self.truth
        check(observed["rows_in"] == t.docs, f"curation read {observed['rows_in']} docs")
        check(observed["row_count"] == t.curated,
              f"curation kept {observed['row_count']} docs, expected {t.curated}")
        labels = {r.node: r.label for r in comp.collect()}
        check(set(labels) <= self.planted_nodes, "edges between docs that are not near-dups")
        recalled = sum(labels.get(b, b) == labels.get(v, v) for b, v in t.near_dup_pairs)
        check(recalled >= MIN_RECALL * len(t.near_dup_pairs),
              f"recalled {recalled} of {len(t.near_dup_pairs)} planted near-dup pairs")
        clusters = len(set(labels.values()))
        kept = spark.read.parquet(self.kept_path).count()
        check(kept == t.curated - (len(labels) - clusters), f"kept {kept} docs")
        dropped = set(range(t.vectors)) - set(sem)
        check(dropped <= self.planted_vectors, "semantic dedup dropped a distinct vector")
        check(len(dropped) >= MIN_RECALL * len(self.planted_vectors),
              f"semantic dedup dropped {len(dropped)} of {len(self.planted_vectors)} copies")
        answer = (
            hashlib.sha256(repr(sorted(labels.items())).encode()).hexdigest(),
            hashlib.sha256(repr(sorted(sem)).encode()).hexdigest(),
        )
        if self.answer is None:
            self.answer = answer
        check(answer == self.answer, "cluster assignment differs from the first run")

        # -- per-layer samples (traced ops only) ----------------------------
        rec = self.tracer.record
        rec("llm.curation.run_s", run_s)
        rec("llm.curation.kept_ratio", observed["row_count"] / observed["rows_in"])
        rec("llm.dedup.minhash_s", minhash_s)
        rec("llm.dedup.components_s", components_s)
        rec("llm.dedup.clusters", clusters)
        rec("llm.similarity.semantic_dedup_s", semantic_s)
        rec("sources.sinks.write_s", write_s)
        nbytes = dir_bytes(self.curated_path)[0] + dir_bytes(self.kept_path)[0]
        rec("sources.sinks.bytes_written", nbytes)
        rec("sources.sinks.bytes_written_per_input_byte", nbytes / self.input_bytes)
        if self.tracer.enabled and i >= 0:
            # the candidate count is an extra job: traced runs only, untimed
            verified = edges.count()
            rec("llm.dedup.verified_pairs", verified)
            rec("llm.dedup.verified_per_candidate",
                verified / max(1, lsh_candidate_pairs(curated).count()))
        return self.engine_s
