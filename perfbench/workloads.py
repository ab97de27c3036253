"""The four workloads: how each registers its generated inputs, what one
job does, and how its output is checked.

A job runs a pipeline the way a user does, through the engine's public
entry points only, and ends with a verified result that has been written
or collected. Nothing here sets an engine tuning variable.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F

import checks
import gen

SYNTH_ROUNDS = 3
SYNTH_BATCH = 16
SEARCH_NPROBE = 4
PQ_SUBSPACES = 8
PQ_KSUB = 64


def _load_json(path: str):
    with open(path) as f:
        return json.load(f)


class Curate:
    """corpus_pipeline (q118's chain) over one seeded document shard."""

    def __init__(self, spark, inputs: str, work: str, manifest: dict):
        from nexgap_spark.plans import curation

        self.plans = curation
        self.expected = _load_json(os.path.join(inputs, "expected.json"))
        self.shards = [
            (s["name"], s["docs"], spark.read.parquet(os.path.join(inputs, s["name"] + ".parquet")))
            for s in manifest["shards"]
        ]

    def job(self, i: int) -> dict:
        name, n_docs, docs = self.shards[i % len(self.shards)]
        rows = [list(r) for r in self.plans.corpus_pipeline(docs).collect()]
        checks.check_curate(rows, self.expected[name])
        return {"items": n_docs, "shard": name,
                "curation.keep_frac": sum(r[1] for r in rows) / n_docs}


class Convert:
    """read_spans -> convert -> filter_valid -> emit -> write_jsonl over one
    seeded span-forest shard; the written files are read back and checked."""

    def __init__(self, spark, inputs: str, work: str, manifest: dict):
        from nexgap_spark.engine import Engine

        self.eng = Engine(spark)
        self.inputs = inputs
        self.out = os.path.join(work, "out", "convert")
        self.expected = _load_json(os.path.join(inputs, "expected.json"))
        self.shards = [(s["name"], s["traces"]) for s in manifest["shards"]]
        self.n_spans = {s["name"]: s["spans"] for s in manifest["shards"]}

    def job(self, i: int) -> dict:
        from nexgap_spark.sources.jsonl import write_jsonl

        name, n_traces = self.shards[i % len(self.shards)]
        spans = self.eng.read_spans(os.path.join(self.inputs, name + ".jsonl"))
        records = self.eng.convert(spans, config_agents=list(gen.CONFIG_AGENTS))
        valid, errors = self.eng.filter_valid(records)
        emitted = self.eng.emit(valid, "qwen")
        write_jsonl(emitted, os.path.join(self.out, "valid"), mode="overwrite")
        write_jsonl(errors, os.path.join(self.out, "errors"), mode="overwrite")
        valid_rows = checks.read_jsonl_dir(os.path.join(self.out, "valid"))
        error_rows = checks.read_jsonl_dir(os.path.join(self.out, "errors"))
        checks.check_convert(valid_rows, error_rows, self.expected[name])
        n_records = len(valid_rows) + len(error_rows)
        return {"items": n_traces, "shard": name,
                "validators.valid_frac": len(valid_rows) / max(1, n_records),
                "converter.records_per_span": n_records / self.n_spans[name]}


class Search:
    """append_ivf_index of a fresh batch, then the float, int8 and PQ probes
    of one query batch against the growing index."""

    def __init__(self, spark, inputs: str, work: str, manifest: dict):
        from nexgap_spark.operators import pq, similarity

        self.sim, self.pq = similarity, pq
        self.index = os.path.join(work, "ivf_index")
        shutil.rmtree(self.index, ignore_errors=True)
        corpus = spark.read.parquet(os.path.join(inputs, "corpus.parquet"))
        centroids = spark.read.parquet(os.path.join(inputs, "centroids.parquet"))
        codebooks = pq.pq_train_codebooks(
            corpus, m=PQ_SUBSPACES, ksub=PQ_KSUB, sample_rows=manifest["corpus"],
            iters=6, centroids=centroids)
        similarity.build_ivf_index(corpus, centroids, self.index, quantize=True,
                                   pq_codebooks=codebooks)
        self.batches = spark.read.parquet(os.path.join(inputs, "batches.parquet"))
        self.queries = spark.read.parquet(os.path.join(inputs, "queries.parquet"))
        exp = _load_json(os.path.join(inputs, "expected.json"))
        self.query_ids, self.truth = exp["query_ids"], exp["truth_top10"]
        self.n, self.b = manifest["corpus"], manifest["append_batch"]
        self.max_jobs = manifest["max_jobs"]

    def probes(self):
        return {
            "ivf": self.sim.ivf_topk_indexed,
            "int8": self.sim.ivf_topk_indexed_int8,
            "pq": self.pq.ivf_topk_indexed_pq,
        }

    def job(self, i: int) -> dict:
        if i >= self.max_jobs:
            raise RuntimeError(f"search inputs cover {self.max_jobs} jobs")
        batch = self.batches.filter(F.col("batch") == i).select("vec_id", "embedding")
        self.sim.append_ivf_index(batch, self.index)
        results = {
            name: [(r.q_id, r.n_id) for r in probe(
                self.queries, self.index, k=gen.SEARCH_K, nprobe=SEARCH_NPROBE
            ).select("q_id", "n_id").collect()]
            for name, probe in self.probes().items()
        }
        recalls = checks.check_search(results, self.truth[i], self.query_ids,
                                      self.n + (i + 1) * self.b)
        return {"items": len(self.query_ids), "recall": sum(recalls.values()) / len(recalls),
                **{f"recall.{k}": v for k, v in recalls.items()}}


class Synthesize:
    """Engine.synthesize (round-based taxonomy sampling) feeding its queries,
    joined with seeded per-stage mock responses, through
    Engine.synthesis_workflow with the mock client and hash transport."""

    def __init__(self, spark, inputs: str, work: str, manifest: dict):
        import pyarrow.parquet as pq

        from nexgap_spark.engine import Engine
        from nexgap_spark.operators.taxonomy import PATH_SEP, explode_tree

        self.eng = Engine(spark)
        self.tree = _load_json(os.path.join(inputs, "tree.json"))
        self.seed = manifest["seed"]
        path = os.path.join(inputs, "responses.parquet")
        self.responses_df = spark.read.parquet(path)
        self.responses = {r["path_id"]: r for r in pq.read_table(path).to_pylist()}
        self.paths = {p["path_id"]: f" {PATH_SEP} ".join(p["en_labels"])
                      for p in explode_tree(self.tree, framework="bench")}

    def job(self, i: int) -> dict:
        from nexgap_spark.external.urlcheck import MockUrlPipelineClient, hash_transport

        sampled = self.eng.synthesize(self.tree, rounds=SYNTH_ROUNDS, batch=SYNTH_BATCH,
                                      framework="bench", seed=self.seed * 1000 + i)
        r = self.responses_df
        tasks = sampled.join(r, "path_id").select(
            "path_id", "round",
            F.col("query").alias("seed_query"), F.col("difficulty").alias("seed_difficulty"),
            "persona", "suit_response", "rewrite_response",
            F.concat("synth_head", "query", "synth_tail").alias("synth_response"),
            "req_response", "aug_response", "fuzz_response",
        )
        rows = [row.asDict() for row in self.eng.synthesis_workflow(
            tasks, client_factory=MockUrlPipelineClient, transport_factory=hash_transport
        ).collect()]
        ext = checks.check_synthesize(rows, self.responses, self.paths,
                                      SYNTH_ROUNDS, SYNTH_BATCH)
        return {"items": SYNTH_ROUNDS * SYNTH_BATCH,
                **{f"external.{k}": v for k, v in ext.items()}}


WORKLOADS = {"curate": Curate, "convert": Convert, "search": Search,
             "synthesize": Synthesize}
